package graft

import graft.SparkSpec

class BenchSpec extends SparkSpec {

  test("timeQuery reports a crashing query instead of a fast time") {
    val (_, err) = Bench.timeQuery(spark, "/nonexistent",
      (_, _) => throw new RuntimeException("poisoned query"))
    assert(err.exists(_.contains("poisoned query")))
  }

  test("timeQuery returns no error for a healthy query") {
    import spark.implicits._
    val (t, err) = Bench.timeQuery(spark, "unused",
      (s, _) => Seq(1, 2, 3).toDF("x"))
    assert(err.isEmpty && t > 0.0)
  }

  test("report escapes an error holding a quote, a backslash, a newline " +
      "and a control character") {
    val err = "bad \"q\" at C:\\tmp\nline two \u0001 end"
    val json = Bench.report(Seq("q01_a" -> ((1.5, None)),
      "q02_b" -> ((2.0, Some(err)))), "/data/sf\"0.01")
    assert(!json.contains("\n") && !json.contains("\u0001"))
    val back = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(back.get("errors").get("q02_b").asText() == err)
    assert(back.get("queries").get("q01_a").asDouble() == 1.5)
    assert(back.get("value").asDouble() == 3.5)
    assert(back.get("sf").asText() == "/data/sf\"0.01")
    assert(back.get("metric").asText() == "total")
  }
}
