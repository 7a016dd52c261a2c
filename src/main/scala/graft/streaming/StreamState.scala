package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, max}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one owner of the `batch_id` state layout every incremental runner
  * keeps its standing state in: a directory of `batch_id=N/` parquet
  * partitions, one per micro-batch, each written in overwrite mode, plus
  * an optional compacted `batch_id=-1` snapshot of everything older.
  *
  * The protocol, in the order a runner meets it:
  *  - [[drain]] runs one AvailableNow lifecycle of a stream;
  *  - [[maintain]] drains a streaming aggregate in update mode and writes
  *    each micro-batch's updated rows as its own batch: a monitor is its
  *    batch twin's aggregate (`Bitmap.bitmaps`, `Sketches.countMinCells`,
  *    `Sketches.groupQuantiles`, …) run on a [[StreamWaves.reader]]
  *    stream, so the standing rows [[latest]] serves equal the one-shot
  *    batch output under any split into micro-batches;
  *  - inside `foreachBatch`, [[readExcluding]] reads the standing state
  *    WITHOUT the current batch's own directory, so a replayed batch
  *    (crash between its writes and its checkpoint commit) recomputes
  *    from the same input as its first attempt, and [[writeBatch]]
  *    overwrites that directory — exactly-once output from
  *    at-least-once delivery;
  *  - a snapshot sink, whose every batch holds the whole state, writes
  *    with [[writeSnapshot]] instead, which keeps only the two newest
  *    batches;
  *  - serving reads resolve each key's newest batch with [[latest]];
  *  - between drains, [[compact]] folds all but the newest batch into
  *    `batch_id=-1`, which sorts below every live batch.
  *
  * [[swapSnapshot]] and [[healSnapshot]] are the one crash-safe way a
  * `batch_id=-1` snapshot is replaced; `Scd2Stream.compact` lands its
  * bucketed base through them too.
  */
object StreamState {

  /** Run `stream` to the end of its currently available input
    * (`Trigger.AvailableNow`), checkpointed at `checkpointPath`, through
    * the sink that `sink` configures (a `foreachBatch`, or a format and
    * path). Returns the number of micro-batches this run executed that
    * consumed source offsets: an empty staged file counts, a no-data
    * batch that only advances the watermark does not. The count comes
    * from the query's progress history, which keeps the newest
    * `spark.sql.streaming.numRecentProgressUpdates` (100) batches.
    *
    * `statePartitions` is the state layout: a stateful query keeps one
    * state store per shuffle partition per stateful operator (four per
    * partition per side for a stream-stream join), each committing files
    * every micro-batch, so the count is pure per-batch overhead until
    * state outgrows it. It is baked into the checkpoint at first start;
    * a restart keeps the checkpointed count. */
  def drain(stream: DataFrame, checkpointPath: String,
            statePartitions: Int = 4)
           (sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Long = {
    val query = withStatePartitions(stream.sparkSession, statePartitions) {
      val q = sink(stream.writeStream)
        .option("checkpointLocation", checkpointPath)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    }
    query.recentProgress.count(_.sources.exists(s =>
      s.startOffset != s.endOffset)).toLong
  }

  /** Drain `updates` in update mode, writing each micro-batch's rows with
    * [[writeBatch]]; a replayed batch rewrites the same rows. When
    * `updates` is a streaming aggregate, every updated row carries its
    * key's cumulative state, so [[latest]] over the aggregate's keys is
    * the standing aggregate. Returns [[drain]]'s micro-batch count. */
  def maintain(updates: DataFrame, sinkPath: String,
               checkpointPath: String): Long =
    drain(updates, checkpointPath)(_.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, sinkPath, batchId) })

  /** Run `body` with `spark.sql.shuffle.partitions` = `n`, restoring the
    * previous value after, also when `body` throws. */
  private def withStatePartitions[T](spark: SparkSession, n: Int)
                                    (body: => T): T = {
    require(n > 0, "statePartitions must be positive")
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, saved)
  }

  /** Write one micro-batch's rows as `path/batch_id=N`, replacing what a
    * previous attempt of the same batch wrote. */
  def writeBatch(df: DataFrame, path: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** [[writeBatch]] for a snapshot sink, where every batch writes the
    * whole state: once batch N has landed, the directories of the batches
    * below N − 1 are deleted. N − 1 stays, because a replay of N reads
    * the state excluding N's own directory. Serve with [[latest]] and no
    * keys. */
  def writeSnapshot(df: DataFrame, path: String, batchId: Long): Unit = {
    writeBatch(df, path, batchId)
    val p = new Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    batchDirs(fs, p).takeWhile(_._1 < batchId - 1)
      .foreach { case (_, d) => fs.delete(d, true) }
  }

  /** The standing state at `path` without batch `batchId`'s own
    * directory, `batch_id` column dropped; `empty`-shaped when nothing
    * was written yet. */
  def readExcluding(spark: SparkSession, path: String, batchId: Long,
                    empty: StructType): DataFrame =
    read(spark, path, batchId, empty).drop("batch_id")

  /** [[readExcluding]] keeping the `batch_id` column, as [[latest]]
    * needs. */
  def read(spark: SparkSession, path: String, excluding: Long,
           empty: StructType): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).exists(
        _.getPath.getName.startsWith("batch_id=")))
      spark.read.parquet(path).filter(col("batch_id") =!= excluding)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      empty.add(StructField("batch_id", LongType)))
  }

  /** For each value of `keys`, every row of the newest batch that
    * carries it (a per-group sink re-emits its whole group each batch, so
    * all of the newest batch's rows are the state). Null keys resolve as
    * one group. With `keys = Nil`, the newest batch overall. Drops the
    * `batch_id` column. */
  def latest(df: DataFrame, keys: Seq[String]): DataFrame = {
    val newest = df.groupBy(keys.map(k => col(k).as(s"_latest_$k")): _*)
      .agg(max(col("batch_id")).as("_latest_b"))
    df.join(if (keys.isEmpty) broadcast(newest) else newest,
        (keys.map(k => col(k) <=> col(s"_latest_$k")) :+
          (col("batch_id") === col("_latest_b"))).reduce(_ && _))
      .select(df.columns.filter(_ != "batch_id").map(col): _*)
  }

  private val Marker = "_absorbed_through_"

  /** Fold every batch directory but the newest into the `batch_id=-1`
    * snapshot and delete the folded directories, so reads scan the state
    * plus one live batch, not one directory per batch elapsed. The
    * snapshot keeps each value of `keys` (non-empty) with its [[latest]]
    * rows; a sink that holds one row per key keeps all its rows.
    *
    * The newest batch is never folded: if its checkpoint did not commit,
    * its replay reads the state excluding its own directory, and that
    * state must not already hold its rows. Run between drains.
    *
    * The new snapshot lands through [[swapSnapshot]], after
    * [[healSnapshot]] has repaired a crashed earlier swap. Folded
    * directories left behind by a crash after the landing are deleted,
    * which the snapshot's `_absorbed_through_N` marker names. */
  def compact(spark: SparkSession, path: String, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "StreamState.compact: keys must be non-empty")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    healSnapshot(fs, p)
    val prior = new Path(p, "batch_id=-1")
    val absorbedThrough = if (!fs.exists(prior)) Long.MinValue
      else fs.listStatus(prior).map(_.getPath.getName)
        .collectFirst { case n if n.startsWith(Marker) =>
          n.stripPrefix(Marker).toLong }
        .getOrElse(Long.MinValue)
    val (stale, live) = batchDirs(fs, p).partition(_._1 <= absorbedThrough)
    stale.foreach { case (_, d) => fs.delete(d, true) }
    val absorb = live.dropRight(1)
    if (absorb.isEmpty) return
    val sources = (if (fs.exists(prior)) Seq(prior) else Nil) ++
      absorb.map(_._2)
    // basePath keeps the batch_id partition column, so newest-wins
    // resolution runs across the folded set (the snapshot counts as -1)
    val folded = spark.read.option("basePath", path)
      .parquet(sources.map(_.toString): _*)
    swapSnapshot(fs, p) { tmp =>
      latest(folded, keys).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      fs.create(new Path(tmp, s"$Marker${absorb.last._1}")).close()
    }
    absorb.foreach { case (_, d) => fs.delete(d, true) }
  }

  /** Replace the `batch_id=-1` snapshot under `path` with the one `write`
    * puts at `<path>_compacting`. The swap is retire → land → delete: the
    * old snapshot is renamed aside to `<path>_retired`, the new one
    * renamed into place, and only then is the retired one deleted. Every
    * rename is checked; a failed landing renames the old snapshot back
    * and throws. A caller rewrites whatever points into the old snapshot
    * only after this returns, so [[healSnapshot]] may always restore the
    * retired copy. */
  private[streaming] def swapSnapshot(fs: FileSystem, path: Path)
                                     (write: Path => Unit): Unit = {
    val (snap, tmp, retired) = swapPaths(path)
    write(tmp)
    if (fs.exists(retired)) fs.delete(retired, true)
    if (fs.exists(snap)) renameOrThrow(fs, snap, retired)
    if (!fs.rename(tmp, snap)) {
      if (fs.exists(retired)) fs.rename(retired, snap)
      throw new java.io.IOException(s"could not land $tmp as $snap")
    }
    fs.delete(retired, true)
  }

  /** Repair a [[swapSnapshot]] that crashed: a retired snapshot with none
    * in place is restored, and a half-written `<path>_compacting` is
    * deleted. Run before reading the snapshot to compact again. */
  private[streaming] def healSnapshot(fs: FileSystem, path: Path): Unit = {
    val (snap, tmp, retired) = swapPaths(path)
    if (!fs.exists(snap) && fs.exists(retired))
      renameOrThrow(fs, retired, snap)
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  private def swapPaths(path: Path): (Path, Path, Path) =
    (new Path(path, "batch_id=-1"), new Path(path.toString + "_compacting"),
      new Path(path.toString + "_retired"))

  /** The live `batch_id=N` directories (N ≥ 0) under `p`, oldest first. */
  private def batchDirs(fs: FileSystem, p: Path): Seq[(Long, Path)] =
    fs.listStatus(p).toSeq
      .map(s => s.getPath.getName -> s)
      .collect { case (n, s) if s.isDirectory && n.startsWith("batch_id=") &&
          n != "batch_id=-1" =>
        n.stripPrefix("batch_id=").toLong -> s.getPath }
      .sortBy(_._1)

  /** Hadoop's rename reports failure by its return value; a state swap
    * or publish that went on after a failed rename would lose or orphan
    * state, so the caller stops here with the state as it was. */
  private[streaming] def renameOrThrow(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"could not rename $from to $to")
}
