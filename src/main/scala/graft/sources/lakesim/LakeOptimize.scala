package graft.sources.lakesim

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table-maintenance compaction for a lakesim lake — the OPTIMIZE job every
  * file-based table needs at scale: streaming/incremental appends produce
  * many small objects, each one split/scan/footer overhead, until a
  * maintenance pass rewrites them into few well-sized ones.
  *
  * The rewrite reads the live lake, repartitions to `ceil(rows /
  * targetRows)` outputs (one object per non-empty partition), and
  * truncate-writes back through the normal DSv2 commit protocol — the new
  * objects publish first and the index swap is the atomic commit point, so
  * a crashed compaction leaves the old lake fully readable (LakeSimWrite's
  * ordering contract). Optionally Z-ORDERS the rewrite by bounded integer
  * coordinates ([[graft.operators.ZOrder]]): compaction is exactly when
  * clustering is cheapest, since every row is being rewritten anyway —
  * after it, range filters on ANY z-column prune objects via the index
  * ranges.
  *
  * Self-overwrite is safe here: scan tasks read the OLD objects while the
  * write runs; the old objects are deleted only inside the final commit,
  * after every task has finished. */
object LakeOptimize {

  /** Compact `dir` to ~`targetRows` rows per object. Returns (objects
    * before, objects after). `zorderBy` takes bounded non-negative integer
    * coordinate columns. */
  def compact(spark: SparkSession, dir: String, schema: StructType,
              targetRows: Long, zorderBy: Seq[Column] = Nil,
              zBits: Int = 16): (Int, Int) = {
    require(targetRows > 0, "targetRows must be positive")
    val entries = LakeIndex.load(dir)
    val before = entries.size
    val df = spark.read.format(classOf[LakeSimSource].getName)
      .schema(schema).option("path", dir).load()
    // row count comes from the index's per-object declared counts — no
    // counting scan; the rewrite job is the only read of the data
    val rows = entries.map(_.count).sum
    val numFiles = math.max(1L, (rows + targetRows - 1) / targetRows).toInt
    val arranged =
      if (zorderBy.nonEmpty)
        graft.operators.ZOrder.cluster(df, zorderBy, numFiles, zBits)
      else df.repartition(numFiles)
    arranged.write.format(classOf[LakeSimSource].getName)
      .option("path", dir).mode("overwrite").save()
    (before, LakeIndex.load(dir).size)
  }
}
