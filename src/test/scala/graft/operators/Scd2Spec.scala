package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class Scd2Spec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val log = Seq(
    // user 1: A A B A — four observations, three runs
    (1L, "2024-01-01 00:00:00", 10L, "A"),
    (1L, "2024-01-02 00:00:00", 11L, "A"),
    (1L, "2024-01-03 00:00:00", 12L, "B"),
    (1L, "2024-01-05 00:00:00", 13L, "A"),
    // user 2: single observation — one open run
    (2L, "2024-01-04 00:00:00", 20L, "C"))
    .toDF("user_id", "ts_s", "event_id", "event_type")
    .select($"user_id", to_timestamp($"ts_s").as("ts"), $"event_id",
      $"event_type")

  private def hist = Scd2.fromChangeLog(log, Seq("user_id"), "ts",
    Seq("event_type"), tieCols = Seq("event_id"))

  test("fromChangeLog compacts runs into versioned half-open intervals") {
    val rows = hist
      .select($"user_id", $"event_type", $"valid_from", $"valid_to",
        $"version", $"is_current")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp],
        Long, Boolean)]
      .collect().sortBy(r => (r._1, r._5)).toSeq
    assert(rows == Seq(
      (1L, "A", ts("2024-01-01 00:00:00"), Some(ts("2024-01-03 00:00:00")),
        1L, false),
      (1L, "B", ts("2024-01-03 00:00:00"), Some(ts("2024-01-05 00:00:00")),
        2L, false),
      (1L, "A", ts("2024-01-05 00:00:00"), None, 3L, true),
      (2L, "C", ts("2024-01-04 00:00:00"), None, 1L, true)))
  }

  test("merge applies a new batch without rewriting closed history and " +
       "equals a full recompute") {
    val updates = Seq(
      (1L, "2024-01-07 00:00:00", 14L, "B"),  // new run for user 1
      (1L, "2024-01-08 00:00:00", 15L, "B"),  // same attr — same run
      (2L, "2024-01-09 00:00:00", 21L, "C"),  // unchanged attr — no new run
      (3L, "2024-01-01 00:00:00", 30L, "Z"))  // brand-new key
      .toDF("user_id", "ts_s", "event_id", "event_type")
      .select($"user_id", to_timestamp($"ts_s").as("ts"), $"event_id",
        $"event_type")
    val merged = Scd2.merge(hist, updates, Seq("user_id"), "ts",
        Seq("event_type"), tieCols = Seq("event_id"))
      .select($"user_id", $"event_type", $"valid_from", $"valid_to",
        $"version", $"is_current")
      .collect().map(_.toSeq).toSet
    val full = Scd2.fromChangeLog(log.unionByName(updates), Seq("user_id"),
        "ts", Seq("event_type"), tieCols = Seq("event_id"))
      .select($"user_id", $"event_type", $"valid_from", $"valid_to",
        $"version", $"is_current")
      .collect().map(_.toSeq).toSet
    assert(merged == full)
  }

  test("applyDeletes closes only the tombstoned keys' open intervals — " +
       "earliest tombstone wins, closed history and other keys pass " +
       "through, unknown/early tombstones behave per contract") {
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"user_id", $"event_type", $"valid_from", $"valid_to",
        $"version", $"is_current")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp],
        Long, Boolean)]
      .collect().sortBy(r => (r._1, r._5)).toSeq
    val dels = Seq(
      (1L, "2024-01-09 00:00:00"),
      (1L, "2024-01-08 00:00:00"),  // earlier tombstone for user 1 wins
      (9L, "2024-01-01 00:00:00"))  // unknown key: no-op
      .toDF("user_id", "ts_s")
      .select($"user_id", to_timestamp($"ts_s").as("ts"))
    val got = rows(Scd2.applyDeletes(hist, dels, Seq("user_id"), "ts"))
    assert(got == Seq(
      (1L, "A", ts("2024-01-01 00:00:00"), Some(ts("2024-01-03 00:00:00")),
        1L, false),
      (1L, "B", ts("2024-01-03 00:00:00"), Some(ts("2024-01-05 00:00:00")),
        2L, false),
      // the open interval closed at the EARLIEST tombstone, no successor
      (1L, "A", ts("2024-01-05 00:00:00"), Some(ts("2024-01-08 00:00:00")),
        3L, false),
      // user 2 untouched, still current
      (2L, "C", ts("2024-01-04 00:00:00"), None, 1L, true)))
    // idempotent: deleting an already-deleted key changes nothing
    val again = rows(Scd2.applyDeletes(
      Scd2.applyDeletes(hist, dels, Seq("user_id"), "ts"),
      dels, Seq("user_id"), "ts"))
    assert(again == got)
    // a tombstone before the current version's valid_from raises loudly
    val early = Seq((2L, "2024-01-02 00:00:00")).toDF("user_id", "ts_s")
      .select($"user_id", to_timestamp($"ts_s").as("ts"))
    val e = intercept[Exception] {
      Scd2.applyDeletes(hist, early, Seq("user_id"), "ts").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("tombstone precedes")))
  }

  test("pointInTime joins each fact to the one version covering its ts; " +
       "boundary facts take the NEWER version; open interval covers the " +
       "tail; pre-history facts drop") {
    val dim = hist.select($"user_id", $"event_type".as("type_at_time"),
      $"valid_from", $"valid_to", $"version")
    val facts = Seq(
      (100L, 1L, "2024-01-01 12:00:00"), // inside v1
      (101L, 1L, "2024-01-03 00:00:00"), // AT the v1→v2 boundary → v2
      (102L, 1L, "2024-01-30 00:00:00"), // open interval → v3
      (103L, 2L, "2024-01-04 00:00:00"), // at user 2's only version start
      (104L, 2L, "2024-01-01 00:00:00"), // before user 2's history → drops
      (105L, 9L, "2024-01-01 00:00:00")) // unknown key → drops
      .toDF("fact_id", "user_id", "ts_s")
      .select($"fact_id", $"user_id", to_timestamp($"ts_s").as("ts"))
    val out = Scd2.pointInTime(facts, dim, Seq("user_id"), "ts",
        bucketSeconds = 86400L, dimCols = Seq("type_at_time"))
      .select($"fact_id", $"version", $"type_at_time")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (100L, 1L, "A"), (101L, 2L, "B"), (102L, 3L, "A"), (103L, 1L, "C")))
  }

  test("retain drops only versions dead before the horizon, keeps " +
       "version numbers, and answers any post-horizon pointInTime " +
       "lookup identically to the full history") {
    val cutoff = to_timestamp(lit("2024-01-03 00:00:00"))
    val kept = Scd2.retain(hist, cutoff)
      .select($"user_id", $"version", $"event_type", $"is_current")
      .as[(Long, Long, String, Boolean)].collect().toSet
    // user 1: v1 [01-01, 01-03) dies AT the horizon boundary (>= keeps
    // it), v2 [01-03, 01-05) and open v3 survive; user 2's open v1 stays
    assert(kept == Set((1L, 1L, "A", false), (1L, 2L, "B", false),
      (1L, 3L, "A", true), (2L, 1L, "C", true)))
    // strictly-older horizon: v1 drops, numbering untouched
    val kept2 = Scd2.retain(hist, to_timestamp(lit("2024-01-04 00:00:00")))
      .select($"user_id", $"version").as[(Long, Long)].collect().toSet
    assert(kept2 == Set((1L, 2L), (1L, 3L), (2L, 1L)))
    // the retention invariant: post-horizon as-was lookups identical
    val dim = hist.select($"user_id", $"event_type".as("t"),
      $"valid_from", $"valid_to", $"version")
    val dimR = Scd2.retain(dim, to_timestamp(lit("2024-01-04 00:00:00")))
    val facts = Seq((100L, 1L, "2024-01-04 12:00:00"),
        (101L, 1L, "2024-01-30 00:00:00"), (102L, 2L, "2024-01-09 00:00:00"))
      .toDF("fact_id", "user_id", "ts_s")
      .select($"fact_id", $"user_id", to_timestamp($"ts_s").as("ts"))
    def lookup(d: org.apache.spark.sql.DataFrame) =
      Scd2.pointInTime(facts, d, Seq("user_id"), "ts",
          bucketSeconds = 86400L, dimCols = Seq("t"))
        .select($"fact_id", $"version", $"t")
        .as[(Long, Long, String)].collect().toSet
    assert(lookup(dimR) == lookup(dim))
    // and the filter is partition-local: retain adds NO exchange beyond
    // whatever its input already had
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
        .sliding("Exchange".length).count(_ == "Exchange")
    assert(exchanges(Scd2.retain(hist, cutoff)) == exchanges(hist))
  }

  test("pointInTime caps far-future sentinel valid_to like the open " +
       "interval — no per-bucket explosion to year 9999, same answers") {
    // an external SCD2 source using a 9999-12-31 sentinel instead of null:
    // with hourly buckets an uncapped version would fan out ~70M rows
    val dim = hist.select($"user_id", $"event_type".as("type_at_time"),
        $"valid_from",
        coalesce($"valid_to", to_timestamp(lit("9999-12-31 00:00:00")))
          .as("valid_to"),
        $"version")
    val facts = Seq(
      (100L, 1L, "2024-01-01 12:00:00"),
      (102L, 1L, "2024-01-30 00:00:00"),
      (103L, 2L, "2024-01-04 00:00:00"))
      .toDF("fact_id", "user_id", "ts_s")
      .select($"fact_id", $"user_id", to_timestamp($"ts_s").as("ts"))
    val out = Scd2.pointInTime(facts, dim, Seq("user_id"), "ts",
        bucketSeconds = 3600L, dimCols = Seq("type_at_time"))
      .select($"fact_id", $"version", $"type_at_time")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    // completes instantly (capped) and the sentinel behaves as open
    assert(out == Seq((100L, 1L, "A"), (102L, 3L, "A"), (103L, 1L, "C")))
  }

  test("pointInTime raises loudly when a version's bucket fan-out " +
       "exceeds the cap, instead of silently amplifying") {
    val dim = hist.select($"user_id", $"event_type".as("type_at_time"),
      $"valid_from", $"valid_to", $"version")
    val facts = Seq((100L, 1L, "2024-01-30 00:00:00"))
      .toDF("fact_id", "user_id", "ts_s")
      .select($"fact_id", $"user_id", to_timestamp($"ts_s").as("ts"))
    val e = intercept[Exception] {
      Scd2.pointInTime(facts, dim, Seq("user_id"), "ts",
        bucketSeconds = 60L, dimCols = Seq("type_at_time"),
        maxBucketsPerVersion = 100L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("raise bucketSeconds")))
  }

  test("pointInTime plans an equi-join on (key, bucket) — no nested-loop " +
       "or cartesian fallback") {
    val dim = hist.select($"user_id", $"event_type".as("type_at_time"),
      $"valid_from", $"valid_to", $"version")
    val facts = log.select($"event_id".as("fact_id"), $"user_id", $"ts")
    val out = Scd2.pointInTime(facts, dim, Seq("user_id"), "ts",
      bucketSeconds = 86400L, dimCols = Seq("type_at_time"))
    assert(out.count() == log.count()) // every observation is covered
    val plan = out.queryExecution.executedPlan.toString
    // the fact↔interval join must be an EQUI join keyed on the time
    // bucket (never an inequality/cartesian join over versions); the only
    // permitted nested-loop is the 1-row max-fact-ts cap attach
    assert(!plan.contains("CartesianProduct"), plan)
    val hashJoinOnBucket = plan.linesIterator.exists(l =>
      (l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin")) && l.contains("_graft_bucket"))
    assert(hashJoinOnBucket, plan)
    assert(plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
      <= 1, plan)
  }
}
