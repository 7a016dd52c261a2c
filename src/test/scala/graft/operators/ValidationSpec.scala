package graft.operators

import graft.SparkSpec

class ValidationSpec extends SparkSpec {
  import spark.implicits._

  test("scalar reconcile") {
    assert(Validation.reconcile(10, 10).matches)
    assert(!Validation.reconcile(9, 10).matches)
  }

  test("reconcileCounts flags mismatches and zero-fills missing keys") {
    val actual = Seq(("a", 2L), ("b", 3L)).toDF("k", "actual_count")
    val declared = Seq(("a", 2L), ("c", 1L)).toDF("k", "declared_count")
    val out = Validation.reconcileCounts(actual, declared, "k")
      .orderBy("k")
      .select("k", "actual_count", "declared_count", "count_match")
      .as[(String, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq(("a", 2L, 2L, true), ("b", 3L, 0L, false), ("c", 0L, 1L, false)))
  }
}
