package graft.queries

import graft.SparkSpec

/** Every multi-branch query persists its scan-side frame; the `releasing`
  * discipline (localCheckpoint the small result, then unpersist) must
  * leave NOTHING in the catalog cache — a non-bench caller composing
  * these queries would otherwise accumulate cache residue per call.
  * This sweep runs every persisting query on sf0.001 and pins
  * cacheManager emptiness after each. Gates that stage files likewise
  * delete their staging directory before they return. */
class CacheHygieneSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** The queries whose implementations call .persist() (directly or via
    * a persisting helper) — the sweep surface for the releasing
    * discipline. */
  private val persistingQueries = Seq(
    "q66_decontam", "q71_curation_full", "q73_oov_rate", "q74_span_dedup",
    "q75_surprisal", "q76_semantic_dedup", "q79_dup_rate_source",
    "q82_snapshot_diff", "q84_quantize_int8", "q85_sparse_retrieval",
    "q87_robust_outliers", "q88_cross_corpus", "q89_dataloader_prep",
    "q90_winnow", "q93_countmin", "q94_cluster_composition",
    "q96_projected_recall", "q99_data_card", "q111_hybrid_retrieval",
    "q135_perplexity_prune", "q161_snapshot_patch",
    "q162_canonical_select")

  test("no catalog-cache residue outlives any persisting query") {
    spark.catalog.clearCache()
    val all = graft.SparkEntry.queries
    persistingQueries.foreach { name =>
      val df = all(name)(spark, sf)
      df.count() // materialize whatever isn't already checkpointed
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left cached frames behind")
    }
  }

  private val fileGates = Seq("q37_lakesim_scan", "q44_registry_roundtrip",
    "q46_cursor_scan", "q105_lakesim_write", "q199_bloom_skip")

  private def graftDirs(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .fold(Set.empty[String])(_.filter(_.startsWith("graft_")).toSet)

  test("file-staging gates leave no graft_* entry in java.io.tmpdir") {
    val before = graftDirs()
    val all = graft.SparkEntry.queries
    fileGates.foreach { name =>
      assert(all(name)(spark, sf).count() > 0, s"$name returned no rows")
    }
    val left = graftDirs() -- before
    assert(left.isEmpty, s"left behind: ${left.mkString(", ")}")
  }
}
