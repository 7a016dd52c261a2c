package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TableStatsSpec extends SparkSpec {
  import spark.implicits._

  test("one pass yields exact counts, typed bounds, and exact NDV below k") {
    val df = Seq(
      (Some(9L), Some("b")),
      (Some(10L), Some("a")),
      (Some(10L), None),
      (None, Some("a")))
      .toDF("num", "str")
    val got = TableStats.columnStats(df, Seq("num", "str"), k = 16)
      .as[(String, Long, Long, Double, Option[String], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    // typed min: 9 < 10 numerically (a lexicographic min over the string
    // rendering would claim "10" < "9")
    assert(got("num") == (("num", 4L, 1L, 2.0, Some("9"), Some("10"))))
    assert(got("str") == (("str", 4L, 1L, 2.0, Some("a"), Some("b"))))
  }

  test("all statistics come from a single aggregation (one scan, no rescans)") {
    val df = spark.range(1, 1001).toDF("v").withColumn("w", $"v" % 7)
    val stats = TableStats.columnStats(df, Seq("v", "w"), k = 64)
    stats.collect()
    val plan = stats.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // exactly one scan of the input in the whole (final) plan — every
    // column's sketch/bounds ride the same aggregation
    assert(plan.split("Range \\(").length - 1 == 1, plan)
    assert(plan.split("ObjectHashAggregate").length - 1 == 2, plan) // partial+final
  }

  test("saturated NDV estimate lands near the truth") {
    val df = (1L to 20000L).toDF("v")
    val est = TableStats.columnStats(df, Seq("v"), k = 256)
      .select($"ndv_est").as[Double].collect().head
    assert(math.abs(est - 20000.0) / 20000.0 < 0.15, s"est=$est")
  }

  test("null-bearing columns: nulls are no phantom distinct value") {
    val df = Seq(Some("a"), Some("b"), None, None, Some("a"))
      .toDF("s")
      .withColumn("allnull", lit(null).cast("string"))
    val got = TableStats.columnStats(df, Seq("s", "allnull"), k = 16)
      .as[(String, Long, Long, Double, Option[String], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("s") == (("s", 5L, 2L, 2.0, Some("a"), Some("b"))))
    assert(got("allnull") == (("allnull", 5L, 5L, 0.0, None, None)))
  }

  test("histogram: exact equi-width counts, complete bucket list, max " +
       "value in the last bucket, nulls excluded") {
    val df = (Seq.tabulate(100)(i => Some(i.toDouble)) :+
        None :+ Some(100.0)) // max lands IN range; one null excluded
      .toDF("v")
    val got = TableStats.histogram(df, "v", nBuckets = 10)
      .as[(Long, Double, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == (0L to 9L))
    // 0..99 uniform over [0,100] → 10 per bucket, plus v=100 clamped last
    assert(got.map(_._4) == Seq(10L, 10L, 10L, 10L, 10L, 10L, 10L, 10L,
      10L, 11L))
    assert(got.head._2 == 0.0 && got.last._3 == 100.0)
  }

  test("histogram: constant column collapses to bucket 0; empty buckets " +
       "report zero") {
    val got = TableStats.histogram(Seq(5.0, 5.0, 5.0).toDF("v"), "v", 4)
      .as[(Long, Double, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got.map(_._4) == Seq(3L, 0L, 0L, 0L))
  }
}
