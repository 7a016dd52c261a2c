package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.SparkSpec

class LinkageSpec extends SparkSpec {
  import spark.implicits._

  private def jw(a: String, b: String): Double =
    graft.expressions.JaroWinklerExpr.similarity(
      UTF8String.fromString(a), UTF8String.fromString(b))

  /** Driver reference: sort by (text, id), pair each row with its next
    * `window` successors, score, threshold. */
  private def refPairs(rows: Seq[(Long, String)], window: Int,
                       minScore: Double): Set[(Long, Long, Double)] = {
    val sorted = rows.sortBy { case (id, t) => (t, id) }
    (for {
      i <- sorted.indices
      j <- (i + 1) to math.min(i + window, sorted.size - 1)
      s = jw(sorted(i)._2, sorted(j)._2) if s >= minScore
    } yield (sorted(i)._1, sorted(j)._1, s)).toSet
  }

  test("sorted-neighborhood pairs equal the driver reference on a seeded " +
      "typo corpus") {
    val rnd = new scala.util.Random(23)
    val bases = Seq("martha", "jonathan", "elisabeth", "smith", "williams")
    val rows = (0 until 200).map { i =>
      val b = bases(rnd.nextInt(bases.size))
      val t = rnd.nextInt(3) match {
        case 0 => b
        case 1 => b + rnd.nextInt(10) // appended junk sorts adjacent
        case _ => b.dropRight(1) // truncation sorts adjacent
      }
      (i.toLong, t)
    }
    val want = refPairs(rows, window = 4, minScore = 0.85)
    assert(want.nonEmpty)
    val got = Linkage.sortedNeighborhoodPairs(
        rows.toDF("doc_id", "name"), "doc_id", "name", 4, 0.85)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want)
  }

  test("rank pairing crosses range-partition boundaries") {
    // 40 identical-prefix names force every pair through the window; with
    // 4 shuffle partitions the rank sequence spans several ranges, and a
    // boundary-dropped pair would show up as a missing (i, i+1) link
    val rows = (0L until 40L).map(i => i -> f"name$i%03d")
    val got = Linkage.sortedNeighborhoodPairs(
        rows.toDF("id", "n"), "id", "n", 1, 0.0)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 39)
    val links = got.map(p => (p._1, p._2)).toSet
    assert((0L until 39L).forall(i => links.contains((i, i + 1))))
  }

  test("window and threshold both bound the pair set") {
    val rows = Seq(1L -> "alpha", 2L -> "alphb", 3L -> "alphc", 4L -> "omega")
    val w1 = Linkage.sortedNeighborhoodPairs(
        rows.toDF("id", "n"), "id", "n", 1, 0.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(w1.map(p => (p._1, p._2)) == Set((1L, 2L), (2L, 3L), (3L, 4L)))
    val w2 = Linkage.sortedNeighborhoodPairs(
        rows.toDF("id", "n"), "id", "n", 2, 0.9)
      .as[(Long, Long, Double)].collect().toSet
    // omega pairs are windowed in but thresholded out
    assert(w2.map(p => (p._1, p._2)) == Set((1L, 2L), (2L, 3L), (1L, 3L)))
  }

  test("two-pass linkage recovers the leading-character typo the sort " +
      "pass misses") {
    val rows = Seq(1L -> "martha", 2L -> "aartha", // d=1, sorts far away
      3L -> "marthax", 4L -> "zzz")
    val snOnly = Linkage.sortedNeighborhoodPairs(
        rows.toDF("id", "n"), "id", "n", 1, 0.8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(!snOnly.contains((1L, 2L))) // the blind spot, by construction
    val both = Linkage.linkagePairs(
        rows.toDF("id", "n"), "id", "n", 1, 0.8)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(both.contains((1L, 2L)) && both.contains((1L, 3L)))
  }

  test("null and empty names: nulls pair nowhere in any pass, empties " +
       "do not crash the sort/union blocks") {
    val df = Seq(
      (1L, Some("robert")), (2L, None), (3L, Some("rupert")),
      (4L, Some("")), (5L, Some("")), (6L, Some("robbert")))
      .toDF("id", "n")
    val sn = Linkage.sortedNeighborhoodPairs(df, "id", "n", 3, 0.0)
      .as[(Long, Long, Double)].collect()
    val un = Linkage.linkagePairs(df, "id", "n", 3, 0.0)
      .as[(Long, Long, Double)].collect()
    for (pairs <- Seq(sn, un)) {
      assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L), pairs.toSeq)
      assert(pairs.forall(p => p._1 != p._2))
    }
    // the real near-spellings still surface: the union pass scores them
    assert(un.map(p => (p._1, p._2)).toSet.contains((1L, 3L)))
  }

  test("null keys drop; the rank is the distributed form, never a " +
      "single-partition global window") {
    val rows = Seq((1L, Some("abc")), (2L, None), (3L, Some("abd")))
    val df = rows.toDF("id", "n")
    val out = Linkage.sortedNeighborhoodPairs(df, "id", "n", 2, 0.0)
    assert(out.as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2)).toSet == Set((1L, 3L)))
    // same pin as packSequences: the prefix-sum window is PARTITIONED BY
    // the range-partition id; a global rank would be Exchange
    // SinglePartition + an unpartitioned window
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(_graft_pid"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }
}
