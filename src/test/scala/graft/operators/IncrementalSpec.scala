package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Watermark-id math (I4) — the cutoff-hour boundary is property-tested
  * per SURVEY.md §5. The set-difference (I1) is UpsertSpec's. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  test("incrementalId: after local cutoff → same day 05:00 local epoch") {
    // 2024-01-15 18:00 UTC = 12:00 local (UTC-6) → id = 2024-01-15 05:00 local
    val df = Seq(Timestamp.valueOf("2024-01-15 18:00:00")).toDF("ts")
    val id = df.select(Incremental.incrementalId($"ts").as("id")).as[Long].collect().head
    // 2024-01-15 00:00 UTC epoch = 1705276800; local 05:00 = 11:00 UTC
    assert(id == 1705276800L + 11 * 3600)
  }

  test("incrementalId: before local cutoff → previous day") {
    // 2024-01-15 08:00 UTC = 02:00 local → previous day 2024-01-14
    val df = Seq(Timestamp.valueOf("2024-01-15 08:00:00")).toDF("ts")
    val id = df.select(Incremental.incrementalId($"ts").as("id")).as[Long].collect().head
    assert(id == 1705190400L + 11 * 3600)
  }

  test("property: id is always the epoch of a 05:00-local instant ≤ ts") {
    val rnd = new scala.util.Random(42)
    // 500 seeded samples plus the exact cutoff boundary instants
    val boundary = Seq(0L, 11 * 3600L - 1, 11 * 3600L, 11 * 3600L + 1, 86399L)
    val epochs = (boundary ++ Seq.fill(500)(rnd.nextLong(3000L * 86400L)))
      .map(1577836800L + _) // from 2020-01-01
    val rows = epochs.map(e => (e, new Timestamp(e * 1000L))).toDF("epoch", "ts")
      .select($"epoch", Incremental.incrementalId($"ts").as("id"))
      .as[(Long, Long)].collect()
    rows.foreach { case (epoch, id) =>
      // the id instant is at most 24h before ts and never after it
      assert(id <= epoch && epoch - id <= 86400L, s"epoch=$epoch id=$id")
      // and it is 05:00 local = 11:00 UTC on some day
      assert(math.floorMod(id, 86400L) == 11 * 3600, s"epoch=$epoch id=$id")
    }
  }

  test("scheduleIds are start + 86400·i") {
    assert(Incremental.scheduleIds(100L, 3) == Seq(100L, 86500L, 172900L))
  }
}
