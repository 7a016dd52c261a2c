package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** q173's ORC surface: value-faithful round trip plus the two pushdown
  * paths a 100 TB ORC scan lives on — directory-level partition pruning
  * and reader-level predicate pushdown (search arguments). */
class OrcRoundTripSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("partitioned ORC read-back prunes partitions AND pushes the " +
       "row filter into the reader") {
    val base = tempDir("graft_orcspec")
    try {
      val df = Seq(
        (1L, "en", 500L), (2L, "de", 50L), (3L, "en", 120L),
        (4L, "ar", 900L), (5L, "fr", 80L), (6L, "fr", 300L))
        .toDF("doc_id", "lang", "n_chars")
      df.write.mode("overwrite").partitionBy("lang").orc(s"$base/orc")

      val read = spark.read.orc(s"$base/orc")
        .where($"lang" >= "e" && $"n_chars" >= 100L)
      val plan = read.queryExecution.executedPlan.toString

      // lang is a partition directory: its predicate must land in
      // PartitionFilters (pruned before any file opens), never in the
      // data filter set
      val partLine = plan.linesIterator
        .find(_.contains("PartitionFilters")).getOrElse("")
      assert(partLine.contains("lang"))
      // n_chars pushes into the ORC reader as a search argument
      assert(plan.contains("PushedFilters") &&
        plan.contains("GreaterThanOrEqual(n_chars,100)"))

      // value-faithful: read-back equals the in-memory filter result
      val got = read.select($"doc_id", $"lang", $"n_chars")
        .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
      assert(got == Seq((1L, "en", 500L), (3L, "en", 120L),
        (6L, "fr", 300L)))
    } finally {
      val walk = java.nio.file.Files.walk(base)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } finally walk.close()
    }
  }

  test("q173 gate query equals the same filter computed on the parquet " +
       "original") {
    val got = PipelineQueries.orcRoundTripQ(spark, sfDir)
      .as[(Long, String, Long)].collect().toSeq
    val want = graft.sources.Tables.load(spark, sfDir, "documents")
      .where($"lang" >= "e" && $"n_chars" >= 100L)
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
    assert(got.nonEmpty && got == want)
  }
}
