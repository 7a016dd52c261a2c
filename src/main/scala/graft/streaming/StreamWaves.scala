package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id}
import org.apache.spark.sql.types.StructType

/** Wave staging + the one-file-per-micro-batch file source shared by
  * every streaming runner: every runner drains one staged file per
  * micro-batch.
  *
  * Why: an `AvailableNow` query lifecycle (start, checkpoint/state load,
  * drain, stop) carries a fixed ~1-2 s cost that dwarfs the data work at
  * gate scale. A gate whose invariant is *per-micro-batch* (cross-batch
  * state folds, watermark advance between batches) doesn't need one
  * lifecycle per wave: [[reader]] splits pre-staged files into
  * micro-batches, one file each, and state/watermark
  * semantics across micro-batches inside ONE lifecycle are identical to
  * those across separate drains. Gates whose invariant is *restart*
  * semantics (checkpoint state reload, exactly-once replay — q98, q153)
  * keep their multiple lifecycles; replay-safety of each state family is
  * pinned by its ScalaTest spec.
  *
  * Ordering contract: Spark's `FileStreamSource` admits files in
  * modification-time order (`latestFirst=false`, the default), so
  * [[stage]] forces strictly increasing mtimes — one parquet part-file
  * per wave, spaced a minute apart — making "wave N = micro-batch N"
  * deterministic rather than a same-millisecond coin flip.
  */
object StreamWaves {

  /** Stage each wave as exactly ONE parquet part-file in `src`, with
    * strictly increasing modification times (wave i at now − 1 h + i
    * min), so a [[reader]] drains one wave per micro-batch in staging
    * order.
    *
    * Multi-wave sets stage in ONE Spark job (the waves union, tagged by
    * index, repartitioned so every wave's rows land in one task, written
    * `partitionBy` wave into a sibling temp dir, then moved into `src`):
    * the per-wave coalesce(1) jobs this replaces serialized N scans of
    * the base frame plus N single-task writes behind N job submissions.
    * Each staged file holds the same ROW SET as the per-wave path; row
    * order is best-effort: a per-wave `monotonically_increasing_id`
    * captures each wave frame's partition-order row sequence and the
    * staged partition sorts by it before writing, which matches what
    * coalesce(1) concatenates unless a shuffle inside a wave's plan
    * partitions differently between the two plans. */
  private val lastMtime = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Next staged-file mtime: recent enough that FileStreamSource's
    * maxFileAge window (7 days, relative to the newest file) never drops
    * a wave, and monotonic across stage() calls so a wave staged after
    * an earlier drain never sorts before that drain's files. */
  private def nextMtime(): Long = lastMtime.updateAndGet(prev => math.max(
    ((System.currentTimeMillis() - 3600000L) / 1000L) * 1000L,
    prev + 60000L))

  private def stampFresh(dir: java.io.File, i: Int,
                         before: Set[String]): Unit = {
    val fresh = dir.list().filter(n => n.startsWith("part-") && !before(n))
    require(fresh.length == 1,
      s"StreamWaves.stage: wave $i landed as ${fresh.length} part files")
    val f = new java.io.File(dir, fresh.head)
    require(f.setLastModified(nextMtime()),
      s"StreamWaves.stage: cannot set mtime on $f")
  }

  def stage(src: String, waves: Seq[DataFrame]): Unit = {
    val dir = new java.io.File(src)
    if (waves.size <= 1) {
      waves.zipWithIndex.foreach { case (w, i) =>
        val before =
          Option(dir.list()).map(_.toSet).getOrElse(Set.empty[String])
        w.coalesce(1).write.mode("append").parquet(src)
        stampFresh(dir, i, before)
      }
      return
    }
    val tmp = new java.io.File(src + "_stage_" +
      java.util.UUID.randomUUID().toString.take(8))
    val tagged = waves.zipWithIndex.map { case (w, i) =>
      w.withColumn("_graft_mid", monotonically_increasing_id())
        .withColumn("_graft_wv", lit(i))
    }.reduce(_.unionByName(_))
    tagged.repartition(col("_graft_wv"))
      .sortWithinPartitions(col("_graft_wv"), col("_graft_mid"))
      .drop("_graft_mid")
      .write.partitionBy("_graft_wv").mode("overwrite")
      .parquet(tmp.getPath)
    dir.mkdirs()
    waves.indices.foreach { i =>
      val wdir = new java.io.File(tmp, s"_graft_wv=$i")
      val parts = Option(wdir.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith("part-"))
      require(parts.length <= 1,
        s"StreamWaves.stage: wave $i landed as ${parts.length} part files")
      if (parts.isEmpty) {
        // empty wave: no partition directory was written — land the
        // schema-only file the per-wave path would have produced
        val before =
          Option(dir.list()).map(_.toSet).getOrElse(Set.empty[String])
        waves(i).limit(0).coalesce(1).write.mode("append").parquet(src)
        stampFresh(dir, i, before)
      } else {
        // keep the part-file name unique across stage() calls by reusing
        // the writer's task UUID, prefix-tagged with the wave index
        val target = new java.io.File(dir,
          s"part-w$i-${parts.head.stripPrefix("part-")}")
        require(new java.io.File(wdir, parts.head).renameTo(target),
          s"StreamWaves.stage: cannot move wave $i into $src")
        require(target.setLastModified(nextMtime()),
          s"StreamWaves.stage: cannot set mtime on $target")
      }
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(tmp)
  }

  /** Stage independent wave sets into DISTINCT directories concurrently
    * (one driver thread per directory — Spark runs the write jobs at
    * once, so a two-sided fixture pays one side's wall, not the sum).
    * Within a directory waves stay sequential: [[stage]]'s fresh-file
    * detection diffs the listing per write. Cross-directory mtime
    * interleaving is irrelevant — each file source orders only its own
    * directory. */
  def stageAll(dirs: Seq[(String, Seq[DataFrame])]): Unit =
    graft.operators.Concurrent.all(dirs.map { case (d, ws) =>
      () => stage(d, ws)
    })

  /** A schema'd parquet file source that admits one file per
    * micro-batch: over a directory [[stage]] filled, one wave per
    * micro-batch, in staging order. */
  def reader(spark: SparkSession, schema: StructType,
             path: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(path)
}
