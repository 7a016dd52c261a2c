package graft.jobs

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.schema.SchemaRegistry

/** End-to-end drift ingest over the FIXTURES.md §4 record batches: two
  * coexisting schemas, reconciled into one sorted-column silver frame. */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  val batch = Seq(
    """{"GLTransactionDetail": 1, "AccountingEntity": "951", "TransactionAmount": 100.25, "PostingDate": "2023-01-15T00:00:00Z"}""",
    """{"GLTransactionDetail": 2, "AccountingEntity": "952", "TransactionAmount": 2023.0, "PostingDate": "2023-01-16T00:00:00Z"}""",
    """{"GLTransactionDetail": 3, "AccountingEntity": "951", "TransactionAmount": 55.5, "PostingDate": "2023-02-01T00:00:00Z", "FinanceCodeBlock.AccountingUnit": "AU01", "JournalCode": "GJ"}""")

  test("drifting batches produce two versions and one reconciled silver frame") {
    val raw = batch.toDF("rec")
    val r = IngestPipeline.ingest(spark, raw, "rec")
    assert(r.registry.withoutSeed.versions.size == 2)
    // dotted name formatted, all columns present and sorted
    assert(r.silver.columns.toSeq ==
      Seq("AccountingEntity", "FinanceCodeBlock_AccountingUnit",
        "GLTransactionDetail", "JournalCode", "PostingDate",
        "TransactionAmount", "schema_version"))
    // v1 rows have nulls in the v2-only columns
    val rows = r.silver.orderBy($"GLTransactionDetail").collect()
    assert(rows(0).getAs[String]("FinanceCodeBlock_AccountingUnit") == null)
    assert(rows(2).getAs[String]("FinanceCodeBlock_AccountingUnit") == "AU01")
  }

  test("incremental re-ingest with a prior registry keeps version ids stable") {
    val r1 = IngestPipeline.ingest(spark, batch.take(2).toDF("rec"), "rec")
    val v1 = r1.registry.versionOf(Set("GLTransactionDetail",
      "AccountingEntity", "TransactionAmount", "PostingDate"))
    val r2 = IngestPipeline.ingest(spark, batch.toDF("rec"), "rec",
      registry = r1.registry)
    assert(r2.registry.versionOf(Set("GLTransactionDetail",
      "AccountingEntity", "TransactionAmount", "PostingDate")) == v1)
    assert(r2.registry.withoutSeed.versions.size == 2)
  }

  test("parseWithDlq routes every line: typed mains, raw-carrying DLQ, " +
       "missing fields stay main with nulls, nothing dropped") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))
    val lines = Seq(
      """{"id":1,"name":"a"}""",       // clean
      """{"id":2}""",                  // valid, missing field → main
      """{"id":3,"name":"c""",         // truncated → DLQ
      """not json at all""",           // → DLQ
      """{}""")                        // valid empty object → main
      .toDF("line")
    val out = IngestPipeline.parseWithDlq(lines, "line", schema)
    assert(out.count() == 5) // every input line survives as a row
    val mains = out.filter($"_corrupt".isNull)
      .select($"id", $"name").as[(Option[Long], Option[String])]
      .collect().toSet
    assert(mains == Set((Some(1L), Some("a")), (Some(2L), None),
      (None, None)))
    val dlq = out.filter($"_corrupt".isNotNull)
      .select($"_raw", $"_corrupt").as[(String, String)].collect().toSet
    // the corrupt column carries the raw record verbatim
    assert(dlq == Set(
      ("""{"id":3,"name":"c""", """{"id":3,"name":"c"""),
      ("not json at all", "not json at all")))
  }

  test("parseWithDlq carries ingest metadata columns through for DLQ " +
       "replay, and rejects name collisions with the parsed schema") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType)))
    val staged = Seq(
      ("""{"id":1}""", "s3://b/f1", 7L),
      ("""broken {""", "s3://b/f2", 8L))
      .toDF("line", "src_path", "src_offset")
    val out = IngestPipeline.parseWithDlq(staged, "line", schema)
    assert(out.columns.toSeq ==
      Seq("_raw", "src_path", "src_offset", "id", "_corrupt"))
    val dlq = out.filter($"_corrupt".isNotNull)
      .select($"src_path", $"src_offset", $"_raw")
      .as[(String, Long, String)].collect().toSeq
    assert(dlq == Seq(("s3://b/f2", 8L, "broken {")))
    intercept[IllegalArgumentException] {
      IngestPipeline.parseWithDlq(
        staged.withColumnRenamed("src_path", "id"), "line", schema)
    }
    // the internal mint names are also reserved: a carried _corrupt
    // would duplicate the routing column, a carried _graft_parsed would
    // be clobbered by the parse struct
    for (reserved <- Seq("_corrupt", "_graft_parsed", "_raw"))
      intercept[IllegalArgumentException] {
        IngestPipeline.parseWithDlq(
          staged.withColumnRenamed("src_path", reserved), "line", schema)
      }
  }

  test("parseWithDlq rejects a schema that already claims _corrupt") {
    import org.apache.spark.sql.types._
    intercept[IllegalArgumentException] {
      IngestPipeline.parseWithDlq(Seq("{}").toDF("line"), "line",
        StructType(Seq(StructField("_corrupt", StringType))))
    }
  }
}
