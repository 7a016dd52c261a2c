package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class QualityFiltersSpec extends SparkSpec {
  import spark.implicits._

  /** Token-materialized metrics frame (the contract every caller follows:
    * lambdas must slice a bound column, not an inline tokenization). */
  private def metrics(docs: Seq[(Long, String)]) =
    docs.toDF("id", "text")
      .select(col("id"), TextAnalysis.tokens(lower(col("text"))).as("_toks"))
      .select(col("id"),
        QualityFilters.dupTokenFrac(col("_toks")).as("dtf"),
        QualityFilters.dupLineFrac(col("_toks")).as("dlf"),
        QualityFilters.topBigramFrac(col("_toks")).as("tbf"),
        QualityFilters.topBigramCount(col("_toks")).as("tbc"),
        size(col("_toks")).as("m"))

  test("topBigramCount equals a naive all-pairs recount") {
    val docs = Seq(
      1L -> "a b a b a b c",          // bigrams: ab,ba,ab,ba,ab,bc → max 3
      2L -> "x y z x y z x y",        // xy,yz,zx,xy,yz,zx,xy → max 3
      3L -> "one two three four",     // all distinct → max 1
      4L -> "t t t t t",              // tt ×4
      5L -> "solo",                   // < 2 tokens → 0
      6L -> "")                       // empty → 0
    val got = metrics(docs).select($"id", $"tbc").as[(Long, Int)].collect().toMap
    val want = docs.map { case (id, text) =>
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val bgs = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      id -> (if (bgs.isEmpty) 0
             else bgs.groupBy(identity).values.map(_.size).max)
    }.toMap
    assert(got == want)
  }

  test("repetition fractions: exact values on hand-checked docs") {
    val out = metrics(Seq(
      // 10 tokens, 4 distinct → dup_token_frac 6/10; two 5-token lines,
      // both distinct → dup_line_frac 0
      1L -> "a a a b b b c c c d",
      // identical 5-token lines → dup_line_frac 1/2
      2L -> "p q r s t p q r s t",
      3L -> ""))
      .select($"id", $"dtf", $"dlf").as[(Long, Double, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ((0.6, 0.0)))
    assert(out(2L) == ((0.5, 0.5)))
    assert(out(3L) == ((0.0, 0.0))) // empty doc: all guards → 0, no NaN
  }

  test("linearScore: empty doc scores 0; mean is token-order-invariant " +
    "for identical multisets; single token equals its weight") {
    val out = Seq(1L -> "", 2L -> "alpha", 3L -> "alpha alpha alpha",
        4L -> "alpha beta", 5L -> "beta alpha")
      .toDF("id", "text")
      .select($"id", QualityFilters.linearScore($"text").as("s"))
      .as[(Long, Double)].collect().toMap
    assert(out(1L) == 0.0)
    assert(out(2L) == out(3L)) // mean of k copies == the single weight
    assert(out(4L) == out(5L)) // a+b == b+a exactly in IEEE
    assert(out(2L) >= -1.0 && out(2L) < 1.0)
  }

  test("a 50k-token document computes in linear time (lambda capture pin)") {
    // one book-length doc: 50k tokens over a 100-word vocab. Pre-fix the
    // line/bigram lambdas re-tokenized per element (O(m²): minutes at this
    // size); materialized it is a sub-second scan. The bound is generous
    // (shared-JVM test noise) but far below the quadratic regime.
    val text = (0 until 50000).map(i => s"w${i % 100}").mkString(" ")
    val t0 = System.nanoTime()
    val row = metrics(Seq(1L -> text))
      .select($"dtf", $"dlf", $"tbf", $"m")
      .as[(Double, Double, Double, Int)].collect().head
    val secs = (System.nanoTime() - t0) / 1e9
    assert(row._4 == 50000)
    assert(row._1 == (50000 - 100) / 50000.0) // 100 distinct of 50k tokens
    // 10k lines, each a 5-token run of the 100-word cycle → 20 distinct
    assert(row._2 == (10000 - 20) / 10000.0)
    assert(row._3 == 500.0 / 49999.0) // each of 100 bigrams repeats 500×
    assert(secs < 30.0, s"repetition metrics took ${secs}s — quadratic?")
  }
}
