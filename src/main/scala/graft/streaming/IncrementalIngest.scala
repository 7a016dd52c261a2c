package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming restatement of the reference's incremental extract
  * loop (SURVEY.md §2.11): the extraction history is the sink itself, the
  * id set-difference becomes a per-batch null-safe left-anti join
  * (`Upsert.insertOnly`) against the sink's ids, and the
  * schedule/retry loop becomes a file-source stream with checkpointed
  * offsets (`datalakewrapper.py:180-195, 286-297`).
  *
  * Exactly-once: the sink writes a `batch_id=N` directory in OVERWRITE
  * mode, and the anti-join reads the sink EXCLUDING the current batch's
  * own directory — so a crash/retry before the checkpoint commit
  * recomputes the identical `fresh` set and overwrites the same directory
  * instead of appending duplicates.
  */
object IncrementalIngest {

  /** Run one incremental ingest pass over everything currently in
    * `sourcePath` (Trigger.AvailableNow — the reference's scheduled-batch
    * shape). New files arriving later are picked up by the next run via the
    * checkpoint; rows whose id the sink already holds are dropped.
    *
    * At scale: the anti-join reads only the sink's `idCol` (a columnar
    * scan prunes to it), broadcasting while the ids fit and shuffle-joining
    * beyond that; the data path appends partition-parallel with no wide
    * transform. Run [[StreamState.compact]] keyed on `idCol` on the sink
    * (it holds one row per id) to keep the per-batch file sets bounded.
    */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, idCol: String, sinkPath: String,
                      checkpointPath: String): Long =
    StreamState.drain(spark.readStream.schema(schema).parquet(sourcePath),
        checkpointPath)(_.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // a replayed batch must not anti-join against its own previous
      // attempt's rows, or the overwrite would empty it
      val landed = StreamState.readExcluding(batch.sparkSession, sinkPath,
        batchId, batch.schema)
      StreamState.writeBatch(graft.operators.Upsert.insertOnly(landed,
        batch.dropDuplicates(idCol), Seq(idCol)), sinkPath, batchId)
    })
}
