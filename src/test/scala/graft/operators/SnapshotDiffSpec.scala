package graft.operators

import graft.SparkSpec

class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._

  private val oldSnap = Seq(
    (1L, "alpha", "x"), (2L, "beta", "y"), (3L, "gamma", "z"),
    (4L, "delta", "w")).toDF("id", "text", "tag")
  private val newSnap = Seq(
    (1L, "alpha", "x"),        // unchanged
    (2L, "beta2", "y"),        // changed (first col)
    (3L, "gamma", "zz"),       // changed (second col)
    (5L, "epsilon", "v")       // added; 4 removed
  ).toDF("id", "text", "tag")

  test("classifies added / removed / changed / unchanged") {
    val got = SnapshotDiff.diff(oldSnap, newSnap, "id", Seq("text", "tag"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "removed", 5L -> "added"))
  }

  test("matches the naive full-outer-join formulation") {
    val o = oldSnap.toDF("id", "t_o", "g_o")
    val n = newSnap.toDF("id", "t_n", "g_n")
    val naive = o.join(n, Seq("id"), "full_outer")
      .select($"id",
        org.apache.spark.sql.functions.when($"t_o".isNull, "added")
          .when($"t_n".isNull, "removed")
          .when($"t_o" === $"t_n" && $"g_o" === $"g_n", "unchanged")
          .otherwise("changed").as("status"))
      .as[(Long, String)].collect().toMap
    val got = SnapshotDiff.diff(oldSnap, newSnap, "id", Seq("text", "tag"))
      .as[(Long, String)].collect().toMap
    assert(got == naive)
  }

  test("column-boundary ambiguity does not collide fingerprints") {
    val o = Seq((1L, "ab", "c")).toDF("id", "a", "b")
    val n = Seq((1L, "a", "bc")).toDF("id", "a", "b")
    val got = SnapshotDiff.diff(o, n, "id", Seq("a", "b"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "changed"))
  }

  test("summary counts per status") {
    val got = SnapshotDiff.diff(oldSnap, newSnap, "id", Seq("text", "tag"))
      .groupBy($"status").count()
      .as[(String, Long)].collect().toMap
    assert(got == Map("unchanged" -> 1L, "changed" -> 2L,
      "removed" -> 1L, "added" -> 1L))
  }

  test("columnChurn attributes changes per column and dedups row-level") {
    val got = SnapshotDiff.columnChurn(oldSnap, newSnap, "id",
        Seq("text", "tag"))
      .as[(String, Long)].collect().toMap
    // ids 2 (text) and 3 (tag) changed — one row each, one column each
    assert(got == Map("added" -> 1L, "removed" -> 1L, "changed" -> 2L,
      "unchanged" -> 1L, "changed:text" -> 1L, "changed:tag" -> 1L))
    // a row changing BOTH columns counts once in changed, twice per-col
    val both = Seq((1L, "X", "Y")).toDF("id", "text", "tag")
    val g2 = SnapshotDiff.columnChurn(
        Seq((1L, "a", "b")).toDF("id", "text", "tag"), both, "id",
        Seq("text", "tag"))
      .as[(String, Long)].collect().toMap
    assert(g2("changed") == 1L &&
      g2("changed:text") == 1L && g2("changed:tag") == 1L)
  }

  test("columnChurn: null values are values, absent rows are absent") {
    val o = Seq((Some(1L), Option.empty[String], Some("t")),
      (Some(2L), Some("x"), Option.empty[String])).toDF("id", "text", "tag")
    val n = Seq((Some(1L), Some("now"), Some("t")), // text: null -> value
      (Some(2L), Some("x"), Option.empty[String]))  // tag: null -> null
      .toDF("id", "text", "tag")
    val got = SnapshotDiff.columnChurn(o, n, "id", Seq("text", "tag"))
      .as[(String, Long)].collect().toMap
    assert(got("added") == 0L && got("removed") == 0L)
    assert(got("changed") == 1L && got("changed:text") == 1L)
    assert(got("changed:tag") == 0L && got("unchanged") == 1L)
  }

  test("patch is churn-sized and applyPatch replays it to the exact new " +
       "snapshot") {
    val p = SnapshotDiff.patch(oldSnap, newSnap, "id", Seq("text", "tag"),
      payloadCols = Seq("text", "tag"))
    // minimal: only added/changed/removed ride the patch
    assert(p.count() == 4)
    assert(p.filter($"op" === "unchanged").count() == 0)
    // removed rows carry a null payload (nothing of the new side exists)
    assert(p.filter($"op" === "removed").select($"text").as[Option[String]]
      .collect().forall(_.isEmpty))
    val applied = SnapshotDiff.applyPatch(oldSnap, p, "id",
        Seq("text", "tag"))
      .collect().map(_.toSeq).toSet
    val want = newSnap.select($"id", $"text", $"tag")
      .collect().map(_.toSeq).toSet
    assert(applied == want)
  }

  test("empty patch: identical snapshots round-trip unchanged") {
    val p = SnapshotDiff.patch(oldSnap, oldSnap, "id", Seq("text", "tag"),
      Seq("text", "tag"))
    assert(p.count() == 0)
    val applied = SnapshotDiff.applyPatch(oldSnap, p, "id", Seq("text", "tag"))
      .collect().map(_.toSeq).toSet
    assert(applied == oldSnap.select($"id", $"text", $"tag")
      .collect().map(_.toSeq).toSet)
  }
}
