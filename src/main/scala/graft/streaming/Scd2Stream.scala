package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Scd2

/** Streaming SCD2 maintenance — the live-warehouse counterpart of
  * [[graft.operators.Scd2.merge]]: change events arriving on a stream fold
  * into a standing type-2 history, each micro-batch re-compacting ONLY the
  * affected keys' current rows (closed history passes through untouched),
  * so the incremental cost is proportional to the batch, not the
  * dimension — in COMPUTE and in I/O.
  *
  * State layout under `statePath`: the snapshot is partitioned into
  * key-hash buckets, and each micro-batch writes ONLY the buckets its
  * keys hash into, as a delta directory `snap/batch_id=N/_gbucket=B/`
  * (coalesced to one file per bucket). A per-batch MANIFEST
  * (`manifests/manifest_N`, the complete bucket → latest-batch map plus
  * per-bucket row counts after batch N) names where every bucket's
  * current version lives, so reading the standing history never lists
  * the batch chain and untouched buckets are never rewritten: a 1 TB
  * dimension receiving a 1 GB batch performs ~1 GB of snapshot I/O, not
  * 1 TB (the partition-pruned MERGE discipline of
  * [[graft.plans.MergeInto]]).
  *
  * The bucket count K is ADAPTIVE: each batch derives
  * K = clamp(nextPow2(rows / targetRowsPerBucket), 1, 256) from the
  * manifest-carried snapshot row count plus the batch's own, so a
  * fixture-scale state folds through ONE bucket (no small-file storm)
  * while a warehouse-scale dimension spreads across 256. When K grows
  * (O(log) times over a state's lifetime, and only while the state is
  * still small), that batch rebuilds the snapshot under the new K — all
  * later batches prune again. Because K and the row counts ride in the
  * manifest, a replayed batch recomputes the identical K from the
  * identical inputs — determinism survives replay.
  *
  * Replay safety: batch N merges against the latest manifest with id < N,
  * so a replayed batch (failure between state write and checkpoint commit)
  * re-reads its original input state and overwrites its own delta + its
  * own manifest — exactly-once output from at-least-once delivery, the
  * [[StreamState]] discipline. Superseded bucket versions accumulate
  * until [[compact]] folds them into the `batch_id=-1` base.
  *
  * Ordering contract (same as [[Scd2.merge]]): a batch's events must be
  * at-or-after each key's current `valid_from` — closed versions are
  * immutable. Event-time-ordered landing (the extract-by-watermark
  * pattern, SURVEY §2.11) satisfies this.
  */
object Scd2Stream {

  /** Bucket cap: wide enough that a typical batch touches a small
    * fraction of a large dimension, narrow enough that bucket files
    * stay right-sized at warehouse scale. */
  private val MaxBuckets: Int = 256

  /** Sizing target: one bucket per this many snapshot rows (power-of-two
    * growth), so fixture-scale states stay single-bucket and billion-row
    * dimensions saturate [[MaxBuckets]]. */
  val TargetRowsPerBucket: Long = 1L << 20

  private val BucketCol = "_gbucket"

  /** Complete bucket map after a batch: bucket → batch id holding its
    * current version, the bucket count it was built under, and the
    * running observed-row total (cumulative batch sizes — a cheap,
    * deterministic OVERESTIMATE of snapshot rows; merges only shrink
    * it, so K errs toward more buckets, never fewer) —
    * everything a replayed successor needs to reproduce its own K and
    * input paths deterministically. */
  private case class Manifest(k: Int, totalRows: Long,
                              entries: Map[Int, Long])

  private def bucketOf(keyCols: Seq[String], k: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(k)).cast("int")

  private def nextPow2(n: Long): Int = {
    var k = 1
    while (k < n && k < (1 << 30)) k <<= 1
    k
  }

  /** Drain `sourcePath` with AvailableNow, folding each micro-batch into
    * the standing bucketed SCD2 snapshot. When `opCol` is set, the
    * stream is a CDC feed: rows whose op column equals `"d"` are DELETE
    * tombstones — the key's open interval closes at the tombstone's
    * `tsCol` ([[Scd2.applyDeletes]] semantics, applied after the
    * batch's upserts merge, so an update and a later tombstone for the
    * same key may ride one batch); every other row is an upsert. Returns
    * the number of micro-batches this run processed. */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, keyCols: Seq[String], tsCol: String,
                      attrCols: Seq[String], tieCols: Seq[String],
                      statePath: String, checkpointPath: String,
                      targetRowsPerBucket: Long = TargetRowsPerBucket,
                      opCol: Option[String] = None): Long =
    StreamState.drain(StreamWaves.reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, keyCols, tsCol, attrCols, tieCols,
          statePath, targetRowsPerBucket, opCol)
        ()
    })

  /** Streaming fact ENRICHMENT against the evolving dimension — the
    * warehouse fact-loader loop: each micro-batch first folds into the
    * standing snapshot (exactly as [[runAvailableNow]]), then the SAME
    * batch's rows join the just-updated history point-in-time
    * ([[Scd2.pointInTime]]) and land in a batch-id-keyed enriched-fact
    * sink. The dimension side of the join reads ONLY the batch's own
    * affected buckets — every fact key hashes into one of them by
    * construction. Because a version's identity depends only on
    * observations at or before a fact's timestamp, enriching wave N
    * against the waves-≤-N history yields EXACTLY what a full-history
    * batch join would — the q164 gate states that equivalence against the
    * q156 oracle. Replay-safe on both sinks (overwrite-own-batch).
    * An EMPTY micro-batch still writes its (schema-only) enriched
    * directory, so consumers enumerating per-batch outputs never hit a
    * missing path.
    *
    * `factCols` are the batch columns carried into the enriched sink
    * (must include the key and ts columns). The snapshot buckets adapt
    * as in [[runAvailableNow]]; the point-in-time join buckets by day.
    * Returns the number of micro-batches processed. */
  def runEnrichAvailableNow(spark: SparkSession, sourcePath: String,
                            schema: StructType, keyCols: Seq[String],
                            tsCol: String, attrCols: Seq[String],
                            tieCols: Seq[String], factCols: Seq[String],
                            statePath: String,
                            checkpointPath: String): Long =
    StreamState.drain(StreamWaves.reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        val affected = foldBatch(batch, batchId, keyCols, tsCol, attrCols,
          tieCols, statePath, TargetRowsPerBucket, None)
        // enrich from the WRITTEN delta — one computation of the merge,
        // and only the batch's own buckets are read back; an empty batch
        // enriches an empty frame so the per-batch directory still lands
        val snap =
          if (affected.nonEmpty)
            session.read.parquet(affected.map(b =>
              s"$statePath/snap/batch_id=$batchId/$BucketCol=$b"): _*)
          else
            Scd2.fromChangeLog(batch.limit(0), keyCols, tsCol, attrCols,
              tieCols)
        val dim = snap.select(
          (keyCols.map(col) :+ col("valid_from") :+ col("valid_to") :+
            col("version")) ++
            attrCols.map(a => col(a).as(s"${a}_at_time")): _*)
        StreamState.writeBatch(
          Scd2.pointInTime(batch.select(factCols.map(col): _*), dim,
            keyCols, tsCol, 86400L,
            dimCols = attrCols.map(a => s"${a}_at_time")),
          s"$statePath/enriched", batchId)
    })

  /** Merge one micro-batch into the bucketed snapshot: read ONLY the
    * affected buckets' current versions, re-compact them with the batch,
    * write the result as this batch's delta (one file per bucket), and
    * publish the updated bucket map as this batch's manifest. When the
    * bucket count grows past the standing one, the whole snapshot
    * rebuilds under the new K instead. Returns the affected bucket ids
    * (empty for an empty batch — nothing written, manifest carried
    * forward unchanged). */
  private def foldBatch(batch: DataFrame, batchId: Long,
                        keyCols: Seq[String], tsCol: String,
                        attrCols: Seq[String], tieCols: Seq[String],
                        statePath: String, targetRowsPerBucket: Long,
                        opCol: Option[String]): Seq[Int] = {
    val session = batch.sparkSession
    val snapRoot = s"$statePath/snap"
    val maniRoot = s"$statePath/manifests"
    val prior = latestManifestBefore(session, maniRoot, batchId)
    // ONE driver-bounded job decides K and the affected buckets: the
    // batch aggregates under the MAX bucket count and the K buckets fall
    // out arithmetically (every K is a power of two dividing MaxBuckets,
    // so h mod K = (h mod Max) mod K)
    val fine = batch.select(bucketOf(keyCols, MaxBuckets).as(BucketCol))
      .groupBy(col(BucketCol)).count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val total = prior.map(_.totalRows).getOrElse(0L) + fine.map(_._2).sum
    val k = math.min(MaxBuckets, nextPow2(
      (total + targetRowsPerBucket - 1) / targetRowsPerBucket))
    val affected = fine.map(_._1 % k).distinct.toSeq.sorted
    val priorEntries = prior.map(_.entries).getOrElse(Map.empty)
    val rebuild = prior.exists(_.k != k) && priorEntries.nonEmpty
    if (affected.isEmpty && !rebuild) {
      writeManifest(session, maniRoot, batchId,
        Manifest(prior.map(_.k).getOrElse(k), total, priorEntries))
      return Seq.empty
    }
    val priorPaths =
      if (rebuild) // K changed: every standing bucket re-shards
        priorEntries.toSeq.map { case (b, m) =>
          s"$snapRoot/batch_id=$m/$BucketCol=$b"
        }
      else
        affected.flatMap(b => priorEntries.get(b).map(m =>
          s"$snapRoot/batch_id=$m/$BucketCol=$b"))
    // CDC split: tombstones close intervals AFTER the batch's upserts
    // merge (an update and a later delete for one key may share a batch)
    val upserts = opCol.map(c => batch.filter(!(col(c) <=> lit("d"))))
      .getOrElse(batch) // null op = upsert
    val merged =
      if (priorPaths.isEmpty)
        Scd2.fromChangeLog(upserts, keyCols, tsCol, attrCols, tieCols)
      else
        Scd2.merge(session.read.parquet(priorPaths: _*), upserts,
          keyCols, tsCol, attrCols, tieCols)
    val hist = opCol.map { c =>
      Scd2.applyDeletes(merged,
        batch.filter(col(c) === lit("d"))
          .select((keyCols :+ tsCol).map(col): _*),
        keyCols, tsCol)
    }.getOrElse(merged)
    val deltaDir = s"$snapRoot/batch_id=$batchId"
    // repartition by bucket → one task per bucket → one file per bucket
    hist.withColumn(BucketCol, bucketOf(keyCols, k))
      .repartition(col(BucketCol))
      .write.mode("overwrite").partitionBy(BucketCol)
      .parquet(deltaDir)
    // the delta's ACTUAL bucket dirs (one flat listing): under a rebuild
    // every standing key re-sharded; under CDC an affected bucket with
    // no prior state and only tombstones produces no rows at all
    val written = {
      val fs = new Path(deltaDir).getFileSystem(
        session.sparkContext.hadoopConfiguration)
      fs.listStatus(new Path(deltaDir)).map(_.getPath.getName).toSeq
        .collect { case n if n.startsWith(s"$BucketCol=") =>
          n.stripPrefix(s"$BucketCol=").toInt }.sorted
    }
    val entries =
      if (rebuild) written.map(_ -> batchId).toMap
      else priorEntries ++ written.map(_ -> batchId)
    writeManifest(session, maniRoot, batchId, Manifest(k, total, entries))
    written
  }

  /** The standing history: every bucket at its latest version, per the
    * newest manifest. */
  def currentHistory(spark: SparkSession, statePath: String): DataFrame = {
    val m = latestManifestBefore(spark, s"$statePath/manifests",
        Long.MaxValue).filter(_.entries.nonEmpty)
      .getOrElse(throw new IllegalStateException(
        s"Scd2Stream: no snapshot under $statePath/snap"))
    spark.read.parquet(m.entries.toSeq.map { case (b, id) =>
      s"$statePath/snap/batch_id=$id/$BucketCol=$b"
    }: _*)
  }

  /** Fold every bucket version SUPERSEDED before the newest batch into
    * the `batch_id=-1` base and drop the absorbed delta directories and
    * stale manifests — the [[StreamState.compact]] analog. Bounds
    * the snapshot chain's file count across arbitrarily many batches.
    *
    * The NEWEST batch's delta and manifest are never absorbed: if that
    * batch crashed before its checkpoint committed, its replay merges
    * against the latest manifest BELOW it — compaction rewrites that
    * prior manifest to point into the base, so the replay reads the
    * identical rows from the folded location and overwrites its own
    * delta. Run between drains (not concurrently with one) — same
    * offline contract as [[StreamState.compact]].
    *
    * The new base lands through [[StreamState.swapSnapshot]] under
    * `snap`, after [[StreamState.healSnapshot]] has repaired a crashed
    * earlier swap. Restoring the retired base is always right here: the
    * absorbed deltas and the manifests are rewritten only after the
    * landing. */
  def compact(spark: SparkSession, statePath: String): Unit = {
    val snapRoot = s"$statePath/snap"
    val maniRoot = s"$statePath/manifests"
    val snapP = new Path(snapRoot)
    val fs = snapP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StreamState.healSnapshot(fs, snapP)
    val ids = manifestIds(spark, maniRoot)
    if (ids.size < 2) return // nothing superseded below the newest batch
    val newest = ids.max
    val priorId = ids.filter(_ < newest).max
    val mapPrior = readManifest(spark, maniRoot, priorId)
    val mapNewest = readManifest(spark, maniRoot, newest)
    // fold the pre-newest state into the base (skip buckets already there)
    val foldPaths = mapPrior.entries.toSeq.filter(_._2 != -1L)
      .map { case (b, id) => s"$snapRoot/batch_id=$id/$BucketCol=$b" }
    if (foldPaths.nonEmpty) {
      // basePath retains the bucket partition column for the re-write;
      // carry already-based buckets forward so the base stays complete
      val basedPaths = mapPrior.entries.toSeq.filter(_._2 == -1L)
        .map { case (b, _) => s"$snapRoot/batch_id=-1/$BucketCol=$b" }
      StreamState.swapSnapshot(fs, snapP) { tmp =>
        spark.read.option("basePath", snapRoot)
          .parquet((foldPaths ++ basedPaths): _*)
          .drop("batch_id")
          .repartition(col(BucketCol))
          .write.mode("overwrite").partitionBy(BucketCol)
          .parquet(tmp.toString)
      }
    }
    // republish: the pre-newest state lives wholly in the base; the
    // newest batch's own buckets stay in its delta
    writeManifest(spark, maniRoot, priorId, Manifest(mapPrior.k,
      mapPrior.totalRows, mapPrior.entries.map { case (b, _) => b -> -1L }))
    writeManifest(spark, maniRoot, newest, Manifest(mapNewest.k,
      mapNewest.totalRows, mapNewest.entries.map { case (b, id) =>
        b -> (if (id == newest) newest else -1L)
      }))
    // drop stale manifests and every absorbed delta directory
    ids.filterNot(id => id == newest || id == priorId)
      .foreach(id => fs.delete(new Path(s"$maniRoot/manifest_$id"), false))
    val live = Set(-1L, newest)
    if (fs.exists(snapP)) fs.listStatus(snapP)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .map(s => s.getPath.getName.stripPrefix("batch_id=").toLong -> s.getPath)
      .filterNot { case (id, _) => live.contains(id) }
      .foreach { case (_, p) => fs.delete(p, true) }
  }

  /** Newest `manifest_M` with M < `batchId`, parsed — a replayed batch
    * must merge against its ORIGINAL input state, never its own previous
    * attempt's output. One flat listing of small manifest files (pruned
    * by [[compact]] to two), never an enumeration of the batch chain. */
  private def latestManifestBefore(spark: SparkSession, maniRoot: String,
                                   batchId: Long): Option[Manifest] = {
    val ids = manifestIds(spark, maniRoot).filter(_ < batchId)
    if (ids.isEmpty) None
    else Some(readManifest(spark, maniRoot, ids.max))
  }

  private def manifestIds(spark: SparkSession, maniRoot: String): Seq[Long] = {
    val p = new Path(maniRoot)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).map(_.getPath.getName).toSeq
      .collect { case n if n.startsWith("manifest_") =>
        n.stripPrefix("manifest_").toLong }
  }

  /** Manifest format: header `#k=<buckets>,t=<observedRows>`, then one
    * `bucket,batchId` line per bucket. Written to a temp name then
    * renamed — readers never observe a partial manifest, and a failed
    * rename fails the batch instead of leaving the previous manifest
    * published over this batch's delta. */
  private def writeManifest(spark: SparkSession, maniRoot: String,
                            batchId: Long, m: Manifest): Unit = {
    val fs = new Path(maniRoot).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(maniRoot))
    val tmp = new Path(s"$maniRoot/.manifest_$batchId.tmp")
    val out = fs.create(tmp, true)
    val body = (s"#k=${m.k},t=${m.totalRows}" +: m.entries.toSeq.sorted
      .map { case (b, id) => s"$b,$id" }).mkString("\n")
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
    val dst = new Path(s"$maniRoot/manifest_$batchId")
    if (fs.exists(dst)) fs.delete(dst, false) // replayed batch: own retry
    StreamState.renameOrThrow(fs, tmp, dst)
  }

  private def readManifest(spark: SparkSession, maniRoot: String,
                           batchId: Long): Manifest = {
    val p = new Path(s"$maniRoot/manifest_$batchId")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.linesIterator.filter(_.nonEmpty).toSeq
    val header = lines.headOption.filter(_.startsWith("#k=")).getOrElse(
      throw new IllegalStateException(
        s"Scd2Stream: manifest $p has no #k=<buckets>,t=<rows> header"))
    val Array(kPart, tPart) = header.stripPrefix("#").split(',')
    Manifest(kPart.stripPrefix("k=").toInt, tPart.stripPrefix("t=").toLong,
      lines.tail.map { l =>
        val Array(b, id) = l.split(',')
        b.toInt -> id.toLong
      }.toMap)
  }
}
