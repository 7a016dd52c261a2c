package graft.operators

import graft.SparkSpec

class ExpectationsSpec extends SparkSpec {
  import spark.implicits._
  import Expectations._

  private val df = Seq(
    (Some(1L), Some("a"), Some(5.0)),
    (Some(2L), Some("b"), Some(50.0)),
    (Some(3L), Some("z"), Some(500.0)), // z not accepted; 500 out of bounds
    (None, Some("a"), None),            // null id, null value
    (Some(3L), Some("a"), Some(9.0)))   // duplicate id 3
    .toDF("id", "cat", "v")

  private def report(checks: Seq[Check]): Map[String, (Double, Double, Boolean)] =
    Expectations.run(df, checks)
      .as[(String, Double, Double, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap

  test("every check kind computes its exact rate and pass verdict") {
    val got = report(Seq(
      NotNull("id", minRate = 0.9),                       // 4/5 = .8 FAIL
      NotNull("cat"),                                     // 5/5 PASS
      AcceptedValues("cat", Seq("a", "b"), minRate = 0.8), // 4/5 = .8 PASS
      Bounds("v", 0.0, 100.0, minRate = 0.5),             // 3/5 = .6 PASS
      Unique(Seq("id")),                                  // 4 distinct / 5
      RowCount(5L, 5L)))                                  // exactly 5 PASS
    assert(got("not_null(id)") == ((0.8, 0.9, false)))
    assert(got("not_null(cat)") == ((1.0, 1.0, true)))
    assert(got("accepted_values(cat)") == ((0.8, 0.8, true)))
    assert(got("bounds(v,0.0,100.0)") == ((0.6, 0.5, true)))
    val (uMetric, _, uPass) = got.collectFirst {
      case (k, v) if k.startsWith("unique") => v }.get
    assert(uMetric == 0.8 && !uPass) // 4 distinct keys over 5 rows
    val (rcMetric, _, rcPass) = got.collectFirst {
      case (k, v) if k.startsWith("row_count") => v }.get
    assert(rcMetric == 5.0 && rcPass)
  }

  test("row-count bounds fail on both ends") {
    assert(!report(Seq(RowCount(6L))).values.head._3)       // too few
    assert(!report(Seq(RowCount(1L, 4L))).values.head._3)   // too many
    assert(report(Seq(RowCount(1L, 100L))).values.head._3)
  }

  test("all row checks fold into ONE aggregation pass (single scan)") {
    val rep = Expectations.run(df, Seq(NotNull("id"), AcceptedValues("cat", Seq("a")),
      Bounds("v", 0.0, 10.0), RowCount(1L)))
    rep.collect()
    val plan = rep.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.split("LocalTableScan").length - 1 == 1, plan)
  }

  test("no checks is rejected loudly") {
    intercept[IllegalArgumentException] { Expectations.run(df, Seq.empty) }
  }
}
