package graft.operators

import graft.SparkSpec
import graft.expressions.JsonLeafKeysExpr

/** Nested records: leaf-path keysets and the nested drift ingest. */
class NestedSpec extends SparkSpec {
  import spark.implicits._

  test("json_leaf_keys canonicalizes nested keysets; null on malformed") {
    val df = Seq(
      """{"a": {"b": 1, "c": 2}, "d": 3}""",
      """{"d": 1, "a": {"c": 9, "b": 0}}""",
      """{"empty": {}, "arr": [1, 2], "nul": null}""",
      """not json""").toDF("rec")
    val out = df.select(JsonLeafKeysExpr.jsonLeafKeys($"rec")).collect()
      .map(r => Option(r.getString(0)))
    assert(out(0).contains("a.b,a.c,d"))
    assert(out(1).contains("a.b,a.c,d")) // key order never matters
    assert(out(2).contains("arr,empty,nul")) // arrays/empty objects = leaves
    assert(out(3).isEmpty)
  }

  test("nested drift ingest: leaf-path keysets mint versions, silver is flat") {
    val raw = Seq(
      """{"k": 1, "meta": {"cust": 10}}""",
      """{"k": 2, "meta": {"cust": 20, "status": "O"}}""",
      """{"k": 3, "meta": {"cust": 30}}""").toDF("rec")
    val result = graft.jobs.IngestPipeline.ingestNested(spark, raw, "rec")
    assert(result.registry.withoutSeed.versions.values.toSet ==
      Set(Set("k", "meta.cust"), Set("k", "meta.cust", "meta.status")))
    val silver = result.silver.orderBy("k")
    assert(silver.columns.toSeq ==
      Seq("k", "meta_cust", "meta_status", "schema_version"))
    val rows = silver.select($"k", $"meta_cust", $"meta_status")
      .as[(String, String, Option[String])].collect().toSeq
    assert(rows == Seq(("1", "10", None), ("2", "20", Some("O")),
      ("3", "30", None)))
  }

  test("a field formatting to schema_version survives as _dupe, flat or nested") {
    val flat = Seq("""{"k": 1, "schema.version": "x"}""").toDF("rec")
    val nested = Seq("""{"k": 1, "schema": {"version": "x"}}""").toDF("rec")
    for (silver <- Seq(
        graft.jobs.IngestPipeline.ingest(spark, flat, "rec").silver,
        graft.jobs.IngestPipeline.ingestNested(spark, nested, "rec").silver)) {
      assert(silver.columns.toSeq ==
        Seq("k", "schema_version", "schema_version_dupe"))
      // the version column holds the version id, the field keeps its value
      assert(silver.as[(String, Int, String)].collect().toSeq ==
        Seq(("1", 1, "x")))
    }
  }
}
