package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}

import graft.operators.Funnels

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
  * fold because the steps evaluate sequentially. Conversion windows
  * (`maxStepGapSec` / `maxTotalSec`, [[Funnels.funnelTimes]] semantics)
  * ride the same qualification predicate.
  *
  * State layout under `statePath/delta/batch_id=N/`: ONLY the users the
  * batch touched, with their full (user, step_1_ts..step_k_ts) row — the
  * write is batch-user-sized, never state-sized. The current state is
  * resolved per user as the row from the LATEST batch that touched them
  * (one `max_by(struct, batch_id)` aggregation — map-side combinable,
  * user-cardinality-sized). Replay safety: a replayed batch reads state
  * EXCLUDING its own batch_id directory and overwrites it — exactly-once
  * from at-least-once, the [[IncrementalIngest]] discipline.
  */
object FunnelStream {

  /** Drain `sourcePath` with AvailableNow, folding each micro-batch into
    * the standing funnel state. Returns the number of micro-batches. */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, userCol: String, tsCol: String,
                      typeCol: String, steps: Seq[String],
                      statePath: String, checkpointPath: String,
                      maxStepGapSec: Option[Long] = None,
                      maxTotalSec: Option[Long] = None,
                      maxFilesPerTrigger: Option[Int] = None): Long = {
    require(steps.nonEmpty, "funnel needs at least one step")
    // mirror Funnels.funnelTimes: the batch≡stream invariant needs the
    // stream to reject exactly the windows the batch recompute rejects
    require(maxStepGapSec.forall(_ > 0) && maxTotalSec.forall(_ > 0),
      "conversion windows must be positive")
    val nBatches = new java.util.concurrent.atomic.AtomicLong(0L)
    val stream = StreamWaves.reader(spark, schema, sourcePath, maxFilesPerTrigger)
    val query = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nBatches.incrementAndGet()
        foldBatch(batch, batchId, userCol, tsCol, typeCol, steps,
          statePath, maxStepGapSec, maxTotalSec)
        ()
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    nBatches.get()
  }

  private def stepCols(steps: Seq[String]): Seq[String] =
    steps.indices.map(i => s"step_${i + 1}_ts")

  private def foldBatch(batch: DataFrame, batchId: Long, userCol: String,
                        tsCol: String, typeCol: String, steps: Seq[String],
                        statePath: String, maxStepGapSec: Option[Long],
                        maxTotalSec: Option[Long]): Unit = {
    val session = batch.sparkSession
    val user = col(userCol)
    val cols = stepCols(steps)
    val stateSchema = StructType(
      batch.schema(userCol) +: cols.map(c => StructField(c, TimestampType)))
    val standing = readResolved(session, statePath, excludeBatch = batchId,
      userCol, stateSchema)
    // ONE aggregation of the batch side: each user's events as a
    // ts-sorted array, so the chained-MIN fold runs as per-row column
    // expressions over (sorted events × standing step times) — a
    // micro-batch costs one exchange for the batch instead of one
    // join+aggregation round per funnel step (identical algebra: "the
    // earliest qualifying event after the just-updated previous step"
    // is the FIRST qualifying element of the ts-sorted array; ties in
    // ts carry the same ts value either way)
    val evs = batch
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
          if (i == 0) isStep && e.getField("_ts").isNotNull
          else {
            val prev = col(cols(i - 1))
            // a null prev (step i−1 incomplete) nulls the predicate —
            // filter() drops the element, so cur stays null, exactly
            // the old `prev.isNotNull` gate
            Seq(
              maxStepGapSec.map(g => e.getField("_ts") <=
                prev + expr(s"INTERVAL $g SECOND")),
              maxTotalSec.map(w => e.getField("_ts") <=
                col(cols.head) + expr(s"INTERVAL $w SECOND")))
              .flatten
              .foldLeft(isStep && e.getField("_ts") > prev)(_ && _)
          }
        }
        // get() is out-of-bounds-null (no ANSI throw on the empty array)
        val firstQualifying =
          get(filter(col("_evs"), qualifies _), lit(0)).getField("_ts")
        acc.withColumn(cur, coalesce(col(cur), firstQualifying))
    }
    // users whose events never opened the funnel carry no information
    folded.filter(col(cols.head).isNotNull)
      .select(user +: cols.map(col): _*)
      .write.mode("overwrite")
      .parquet(s"$statePath/delta/batch_id=$batchId")
  }

  /** The standing per-user state: each user's row from the latest batch
    * that touched them (the compacted base rides as batch −1). Pass
    * `Long.MinValue` to read everything — NOT −1, which would exclude
    * the base; a folding batch passes its own id so a replay never
    * reads its previous attempt. */
  private def readResolved(spark: SparkSession, statePath: String,
                           excludeBatch: Long, userCol: String,
                           empty: StructType): DataFrame = {
    require(excludeBatch != -1L,
      "readResolved: -1 is the compacted base; pass Long.MinValue to " +
        "read everything")
    val all = StreamState.readExcludingKeepBatchId(spark,
      s"$statePath/delta", excludeBatch, empty)
    if (!all.columns.contains("batch_id")) all // empty fallback
    else {
      val valueCols = empty.fieldNames.filterNot(_ == userCol)
      all.groupBy(col(userCol))
        .agg(max_by(struct(valueCols.map(col): _*), col("batch_id"))
          .as("_s"))
        .select(col(userCol) +: valueCols.map(c => col(s"_s.$c")): _*)
    }
  }

  /** The standing per-user funnel times (all committed batches,
    * including a compacted base). */
  def currentTimes(spark: SparkSession, statePath: String, userCol: String,
                   steps: Seq[String],
                   userField: StructField): DataFrame =
    readResolved(spark, statePath, excludeBatch = Long.MinValue, userCol,
      StructType(userField +:
        stepCols(steps).map(c => StructField(c, TimestampType))))

  /** Fold the per-batch delta directories into one bounded
    * `batch_id=-1` base — the [[IncrementalIngest.compact]] swap
    * discipline, but RESOLVING while absorbing: a user touched by
    * several absorbed batches keeps only the latest row (plain row
    * union would hand `max_by` two rows with no batch order left). The
    * base carries batch_id -1, so later deltas still override it at
    * read time, and the newest batch stays un-absorbed (it may be an
    * uncommitted replay candidate — same reasoning as the other
    * runners; the fold is idempotent, so even that absorption would be
    * benign, but the shared discipline stays uniform). */
  def compact(spark: SparkSession, statePath: String, userCol: String,
              numFiles: Int = 1): Unit = {
    val path = s"$statePath/delta"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val idDirs = fs.listStatus(p)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("batch_id=") &&
        s.getPath.getName != "batch_id=-1")
      .map(s => s.getPath.getName.stripPrefix("batch_id=").toLong ->
        s.getPath)
      .sortBy(_._1)
    val prior = new org.apache.hadoop.fs.Path(p, "batch_id=-1")
    val retired = new org.apache.hadoop.fs.Path(path + "_retired")
    // self-heal a crash between the two swap renames below: the retired
    // base still exists and the new one never landed — restore it (the
    // absorbed dirs were not yet deleted, so the answer is intact)
    if (!fs.exists(prior) && fs.exists(retired))
      require(fs.rename(retired, prior),
        s"FunnelStream.compact: could not restore $retired to $prior")
    val absorb = idDirs.dropRight(1) // newest stays, as everywhere
    if (absorb.isEmpty) return
    val keptNewest = idDirs.last._1
    // resolve while absorbing through the same reader the fold uses:
    // the partition-discovered batch_id already orders the base (-1)
    // below every absorbed id, and a user touched by several absorbed
    // batches must keep only the latest row (a plain row union would
    // hand max_by two rows with no batch order left)
    val schema = StructType(
      spark.read.parquet(absorb.head._2.toString).schema.fields.toSeq)
    val resolved = readResolved(spark, statePath,
        excludeBatch = keptNewest, userCol, schema)
      .coalesce(numFiles)
    val tmp = new org.apache.hadoop.fs.Path(path + "_compacting")
    resolved.write.mode("overwrite").parquet(tmp.toString)
    // swap, never leaving the tree without a readable base: retire the
    // old base, land the new one, and only then drop retired + absorbed.
    // Hadoop rename reports failure by RETURNING false — unchecked, a
    // failed landing would delete the absorbed dirs and lose state.
    if (fs.exists(retired)) fs.delete(retired, true)
    if (fs.exists(prior))
      require(fs.rename(prior, retired),
        s"FunnelStream.compact: could not retire $prior")
    if (!fs.rename(tmp, prior)) {
      if (fs.exists(retired)) fs.rename(retired, prior) // roll back
      throw new java.io.IOException(
        s"FunnelStream.compact: could not publish $tmp to $prior")
    }
    fs.delete(retired, true)
    absorb.foreach { case (_, dir) => fs.delete(dir, true) }
  }

  /** The standing funnel report — [[Funnels.funnel]]'s shape from the
    * maintained state instead of a full-log recompute. */
  def currentReport(spark: SparkSession, statePath: String, userCol: String,
                    steps: Seq[String], userField: StructField): DataFrame = {
    val times = currentTimes(spark, statePath, userCol, steps, userField)
    val counts = steps.indices.map(i =>
      count(col(s"step_${i + 1}_ts")).as(s"_c${i + 1}"))
    val rows = steps.zipWithIndex.map { case (step, i) =>
      struct(lit(i + 1).as("step_idx"), lit(step).as("step_name"),
        col(s"_c${i + 1}").as("users_reached"))
    }
    times.agg(counts.head, counts.tail: _*)
      .select(explode(array(rows: _*)).as("_r"))
      .select(col("_r.step_idx"), col("_r.step_name"),
        col("_r.users_reached"))
  }
}
