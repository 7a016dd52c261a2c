package graft.operators

import graft.SparkSpec

/** The insert-only diff (I1, the MERGE insert-only path, the incremental
  * subject-area load): null-safe, duplicate-proof, key-only reads. */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  test("insertOnly = lake ids minus history, null-safe, duplicates ignored") {
    val lake = Seq(Some("a"), Some("b"), Some("c"), Some("d"), None)
      .toDF("dl_id")
    // duplicate history keys must neither multiply nor drop lake rows
    val history = Seq(Some("b"), Some("d"), Some("d"), None, None)
      .toDF("dl_id")
    val out = Upsert.insertOnly(history, lake, Seq("dl_id"))
      .as[String].collect().toSeq.sorted
    assert(out == Seq("a", "c"))
    // a null key the history lacks is new, once per source row
    val fresh = Upsert.insertOnly(history.filter($"dl_id".isNotNull),
      lake, Seq("dl_id")).as[Option[String]].collect().toSeq
    assert(fresh.sortBy(_.toString) == Seq(None, Some("a"), Some("c")))
  }

  test("insertOnly scans only the target's key column, with no aggregate") {
    val target = tempDir("upsert_narrow").resolve("t").toString
    Seq(("a", 1.0, "x"), ("b", 2.0, "y")).toDF("dl_id", "amount", "note")
      .write.parquet(target)
    val source = Seq(("b", 5.0, "z"), ("c", 3.0, "w"))
      .toDF("dl_id", "amount", "note")
    val out = Upsert.insertOnly(spark.read.parquet(target), source,
      Seq("dl_id"))
    assert(out.as[(String, Double, String)].collect().toSeq ==
      Seq(("c", 3.0, "w")))
    val plan = out.queryExecution.executedPlan.toString
    val schemas = plan.linesIterator.filter(_.contains("FileScan"))
      .map(_.replaceAll(".*ReadSchema: ", "")).toSeq.distinct
    assert(schemas == Seq("struct<dl_id:string>"), plan)
    assert(!plan.contains("Aggregate"), plan)
  }
}
