package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Sketches

class QuantileSketchAggSpec extends SparkSpec {
  import spark.implicits._

  /** Naive restatement of the whole estimator: bottom-`cap` distinct
    * values by the portable hash with exact counts, then the smallest
    * value whose running count reaches ceil(q·mass). */
  private def naive(values: Seq[Long], cap: Int, q: Double): Long = {
    def hash60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
    }
    val sample = values.groupBy(identity).view
      .mapValues(_.size.toLong).toSeq
      .sortBy { case (v, _) => hash60(v.toString) }
      .take(cap).sortBy(_._1)
    val mass = sample.map(_._2).sum
    val target = math.max(1L, math.ceil(q * mass.toDouble).toLong)
    var cum = 0L
    sample.collectFirst {
      case (v, c) if { cum += c; cum >= target } => v
    }.get
  }

  test("below capacity the sketch is the exact histogram and quantiles are exact") {
    val values = Seq.fill(40)(Seq(1L, 5L, 5L, 9L, 100L)).flatten
    val got = Sketches.groupQuantiles(values.toDF("v"), Seq.empty, "v",
      Seq(("p25", 0.25), ("p50", 0.5), ("p100", 1.0)), capacity = 64)
      .select($"sketch_size", $"sketch_mass", $"p25", $"p50", $"p100")
      .as[(Long, Long, Long, Long, Long)].collect().head
    // 200 rows, 4 distinct; mass 200; p25 → rank 50 → 5 (40×1, then 5s)
    assert(got == ((4L, 200L, 5L, 5L, 100L)))
  }

  test("saturated sketch matches the naive bottom-K restatement exactly") {
    val values = (1L to 500L).flatMap(v => Seq.fill((v % 3 + 1).toInt)(v))
    for (q <- Seq(0.1, 0.5, 0.9)) {
      val got = Sketches.groupQuantiles(values.toDF("v"), Seq.empty, "v",
        Seq(("est", q)), capacity = 100)
        .select($"est").as[Long].collect().head
      assert(got == naive(values, 100, q), s"q=$q")
    }
  }

  test("deterministic under repartitioning (order-insensitive merge)") {
    val df = (1L to 2000L).map(v => v % 613).toDF("v")
    val a = Sketches.groupQuantiles(df.repartition(3), Seq.empty, "v",
      Seq(("p50", 0.5)), 128).select($"p50").as[Long].collect().head
    val b = Sketches.groupQuantiles(df.repartition(17), Seq.empty, "v",
      Seq(("p50", 0.5)), 128).select($"p50").as[Long].collect().head
    assert(a == b)
  }

  test("saturated estimate lands near the true quantile") {
    // 10k uniform values, capacity 256: the hash-sample estimator should
    // sit within a few percentiles of truth (deterministic, so this is a
    // fixed fact about the data, not a flaky statistical bound)
    val df = (1L to 10000L).toDF("v")
    val est = Sketches.groupQuantiles(df, Seq.empty, "v",
      Seq(("p50", 0.5)), 256).select($"p50").as[Long].collect().head
    assert(math.abs(est - 5000L) < 700, s"p50 estimate $est")
  }

  test("per-group sketches aggregate independently") {
    val df = ((1L to 100L).map(v => ("a", v)) ++ Seq(("b", 7L)))
      .toDF("g", "v")
    val got = Sketches.groupQuantiles(df, Seq("g"), "v",
      Seq(("p50", 0.5)), 256)
      .select($"g", $"p50").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 50L, "b" -> 7L))
  }

  test("nulls are skipped; empty sketch yields null quantiles") {
    val df = Seq[Option[Long]](None, None).toDF("v")
    val got = Sketches.groupQuantiles(df, Seq.empty, "v",
      Seq(("p50", 0.5)), 16)
      .select($"sketch_size", $"p50").as[(Long, Option[Long])]
      .collect().head
    assert(got == ((0L, None)))
  }

  test("partial aggregation runs before the exchange (bounded map-side state)") {
    val df = (1L to 100L).toDF("v").withColumn("g", $"v" % 4)
    val plan = Sketches.groupQuantiles(df, Seq("g"), "v",
      Seq(("p50", 0.5)), 32).queryExecution.executedPlan.toString
    // ObjectHashAggregate appears in partial mode below the exchange
    assert(plan.contains("ObjectHashAggregate"))
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning")
    val partialIdx = plan.lastIndexOf("ObjectHashAggregate")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"no partial ObjectHashAggregate below the exchange:\n$plan")
  }
}
