package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming restatement of the reference's incremental extract
  * loop (SURVEY.md §2.11): the extraction-history file becomes a history
  * table, the id set-difference becomes a per-batch null-safe left-anti
  * join (`Upsert.insertOnly`), and the
  * schedule/retry loop becomes a file-source stream with checkpointed
  * offsets (`datalakewrapper.py:180-195, 286-297`).
  *
  * Exactly-once: both sink and history write to a `batch_id=N` directory in
  * OVERWRITE mode, and the anti-join reads the history EXCLUDING the current
  * batch's own directory — so a crash/retry anywhere between the two writes
  * recomputes the identical `fresh` set and overwrites the same directories
  * instead of appending duplicates.
  */
object IncrementalIngest {

  /** Run one incremental ingest pass over everything currently in
    * `sourcePath` (Trigger.AvailableNow — the reference's scheduled-batch
    * shape). New files arriving later are picked up by the next run via the
    * checkpoint; rows whose id is already in the history are dropped.
    *
    * At scale: the history table holds only ids (narrow), so the anti-join
    * broadcasts while the history fits and shuffle-joins beyond that; the
    * data path appends partition-parallel with no wide transform. Run
    * [[StreamState.compact]] keyed on `idCol` on sink and history together
    * (the same committed batch set; each holds one row per id) to keep the
    * per-batch file sets bounded.
    */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, idCol: String, sinkPath: String,
                      historyPath: String, checkpointPath: String): Long =
    StreamState.drain(spark.readStream.schema(schema).parquet(sourcePath),
        checkpointPath)(_.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // a replayed batch must not anti-join against its own previous
      // attempt's ids, or the overwrite would empty it
      val history = StreamState.readExcluding(batch.sparkSession,
        historyPath, batchId, StructType(batch.schema.filter(_.name == idCol)))
      val fresh = graft.operators.Upsert.insertOnly(history,
          batch.dropDuplicates(idCol), Seq(idCol))
        .cache()
      try {
        StreamState.writeBatch(fresh, sinkPath, batchId)
        StreamState.writeBatch(fresh.select(idCol), historyPath, batchId)
      } finally fresh.unpersist()
    })
}
