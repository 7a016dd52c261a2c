package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class LineDedupSpec extends SparkSpec {
  import spark.implicits._

  test("lines: fixed width, ragged tail, empty text") {
    val out = Seq(
        (1L, "a b c d e f g"), // 2 lines, tail ragged
        (2L, "a b c"),         // 1 ragged line
        (3L, ""),              // no lines
        (4L, "  x   y  "))     // whitespace-noise tokenization
      .toDF("id", "text")
      .select($"id", TextAnalysis.tokens($"text").as("_toks"))
      .select($"id", LineDedup.linesFromTokens($"_toks", 5).as("ls"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) == Seq("a b c d e", "f g"))
    assert(out(2L) == Seq("a b c"))
    assert(out(3L) == Seq.empty)
    assert(out(4L) == Seq("x y"))
  }

  /** Naive reference: explode every doc's lines in (id, idx) order, keep a
    * line iff its text was never seen before (corpus-global first
    * occurrence), reassemble per doc. */
  private def naive(docs: Seq[(Long, String)], lt: Int)
      : Map[Long, (Long, Long, String)] = {
    val seen = scala.collection.mutable.Set[String]()
    val perDoc = scala.collection.mutable.LinkedHashMap[Long,
      (Long, Long, Vector[String])]()
    docs.sortBy(_._1).foreach { case (id, text) =>
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val ls = toks.grouped(lt).map(_.mkString(" ")).toVector
      if (ls.nonEmpty) {
        val kept = ls.filter(l => seen.add(l))
        perDoc(id) = (ls.size.toLong, kept.size.toLong, kept)
      }
    }
    perDoc.view.mapValues { case (n, k, ls) => (n, k, ls.mkString(" ")) }.toMap
  }

  test("dedupLines matches the naive first-occurrence reference") {
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      // exact clone of 10 → keeps nothing
      (20L, "the quick brown fox jumps over the lazy dog today"),
      // shares the FIRST 5-token line with 10, second line is new
      (30L, "the quick brown fox jumps into a cold river now"),
      // empty → no output row
      (40L, ""),
      // within-doc repeat: two identical lines, first kept only
      (50L, "alpha beta gamma delta eps alpha beta gamma delta eps"))
    val got = LineDedup.dedupLines(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .select($"doc_id", $"n_lines", $"n_kept", $"kept_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == naive(docs, 5))
    assert(!got.contains(40L))         // empty doc: no row, not a zero row
    assert(got(20L) == ((2L, 0L, ""))) // clone keeps nothing, text empty
    assert(got(50L)._2 == 1L)          // within-doc dup collapses
  }

  test("first occurrence is by (doc_id, line_idx), not arrival order") {
    // the shared line sits LAST in doc 1 and FIRST in doc 2 → doc 1 owns it
    val docs = Seq(
      (2L, "z z z z z m m m m m"),
      (1L, "a b c d e z z z z z"))
    val got = LineDedup.dedupLines(docs.toDF("doc_id", "text"),
        "doc_id", "text")
      .select($"doc_id", $"n_kept").as[(Long, Long)].collect().toMap
    assert(got(1L) == 2L) // both its lines are first occurrences
    assert(got(2L) == 1L) // loses "z z z z z" to doc 1, keeps "m m m m m"
  }

  // --- stripBoilerplate ---

  test("stripBoilerplate drops EVERY occurrence of frequent lines in-scope") {
    // FOOTER appears in all three docs of source a (≥ minDocs=2) →
    // boilerplate, removed everywhere; unique lines survive in order
    val docs = Seq(
      (1L, "a", "intro one\nFOOTER\nbody one"),
      (2L, "a", "FOOTER\nbody two"),
      (3L, "a", "FOOTER"),                 // all-boiler doc survives empty
      (4L, "b", "FOOTER\nbody four"))      // source b: only 1 doc has it
      .toDF("doc_id", "source", "text")
    val got = LineDedup.stripBoilerplate(docs, "doc_id", "text",
        scopeCols = Seq("source"), minDocs = 2)
      .select($"doc_id", $"n_lines", $"n_boiler", $"clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == ((3L, 1L, "intro one\nbody one")))
    assert(got(2L) == ((2L, 1L, "body two")))
    assert(got(3L) == ((1L, 1L, "")))
    // same line below threshold in source b: kept (scope isolates sites)
    assert(got(4L) == ((2L, 0L, "FOOTER\nbody four")))
  }

  test("stripBoilerplate without scope columns detects corpus-globally") {
    val docs = Seq(
      (1L, "a", "SHARED\nunique one"),
      (2L, "b", "SHARED\nunique two"))
      .toDF("doc_id", "source", "text")
    // global: SHARED spans 2 docs across sources → boilerplate
    val global = LineDedup.stripBoilerplate(docs, "doc_id", "text",
        scopeCols = Seq.empty, minDocs = 2)
      .select($"doc_id", $"n_boiler").as[(Long, Long)].collect().toMap
    assert(global == Map(1L -> 1L, 2L -> 1L))
    // scoped by source: 1 doc per source → nothing flagged
    val scoped = LineDedup.stripBoilerplate(docs, "doc_id", "text",
        scopeCols = Seq("source"), minDocs = 2)
      .select($"doc_id", $"n_boiler").as[(Long, Long)].collect().toMap
    assert(scoped == Map(1L -> 0L, 2L -> 0L))
  }

  test("stripBoilerplate counts DISTINCT docs, not occurrences") {
    // REPEAT appears twice in ONE doc: occurrence count 2, doc count 1 —
    // must NOT be flagged at minDocs=2
    val docs = Seq((1L, "a", "REPEAT\nmiddle\nREPEAT"))
      .toDF("doc_id", "source", "text")
    val got = LineDedup.stripBoilerplate(docs, "doc_id", "text",
        Seq("source"), minDocs = 2)
      .select($"n_boiler", $"clean_text").as[(Long, String)].collect().head
    assert(got == ((0L, "REPEAT\nmiddle\nREPEAT")))
  }

  test("stripBoilerplate rejects a degenerate threshold") {
    val docs = Seq((1L, "a", "x")).toDF("doc_id", "source", "text")
    intercept[IllegalArgumentException] {
      LineDedup.stripBoilerplate(docs, "doc_id", "text", Seq("source"), 1)
    }
  }
}
