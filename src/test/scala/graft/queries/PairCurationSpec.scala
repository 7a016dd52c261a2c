package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The q296 fixture-geometry invariants, moved out of the timed gate
  * query (the r21 discipline: the gate computes only its declared output;
  * invariants live in a spec with the same geometry, and the oracle
  * independently restates hashes / caption Jaccard / the closure). Runs
  * the exact q296 pipeline via [[TrainingData.pairCurationParts]] on
  * sf0.001 — identical id geometry (doc_id < 24 originals, %3 image-dup
  * wave, %4 caption-dup wave), identical thresholds. */
class PairCurationSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def has(df: DataFrame, a: Long, b: Long): Boolean =
    df.filter(col("pair_id_a") === a && col("pair_id_b") === b).count() == 1

  test("q296 geometry: shard round-trip, cross-modal triple, closure") {
    val base = tempDir("graft_q296_spec")
      .toString
    try {
      val (imported, imgPairs, txtPairs, clusters) =
        TrainingData.pairCurationParts(spark, sf, base)
      // all 38 pairs survive the tar-shard round trip
      assert(imported.count() === 38L,
        "expected all 38 pairs back from the shards")
      // the planted cross-modal triple: 0-100000 only via image,
      // 0-200000 only via text, and NO direct 100000-200000 edge
      assert(has(imgPairs, 0L, 100000L) && !has(txtPairs, 0L, 100000L),
        "0-100000 must pair through the image only")
      assert(has(txtPairs, 0L, 200000L) && !has(imgPairs, 0L, 200000L),
        "0-200000 must pair through the caption only")
      assert(!has(imgPairs, 100000L, 200000L) &&
        !has(txtPairs, 100000L, 200000L),
        "the cross-modal pair must have no direct edge")
      // ...yet the transitive closure folds the triple into ONE unit
      assert(clusters.filter(col("pair_id").isin(0L, 100000L, 200000L))
        .select(col("cluster_id")).distinct().count() === 1L,
        "the cross-modal triple must close into one unit")
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    }
  }
}
