package graft.functions

import org.apache.spark.sql.functions.sum
import graft.SparkSpec

/** Term statistics: TF/DF tables, BM25 top terms, heavy hitters. */
class TermStatsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog sat on the log"),
    (3L, "the cat and the dog"),
    (4L, "quantum flux capacitor the")).toDF("doc_id", "text")

  test("termFrequencies counts per (doc, term); docFrequencies per term") {
    val tf = TermStats.termFrequencies(docs, "doc_id", "text")
    assert(tf.filter($"doc_id" === 1L && $"term" === "the")
      .select("tf").as[Long].head() == 2L)
    val df = TermStats.docFrequencies(tf)
    assert(df.filter($"term" === "the").select("df").as[Long].head() == 4L)
    assert(df.filter($"term" === "quantum").select("df").as[Long].head() == 1L)
  }

  test("bm25 ranks rare terms above ubiquitous ones") {
    val top = TermStats.bm25TopTerms(docs, "doc_id", "text", k = 2)
      .orderBy($"doc_id", $"score".desc, $"term")
      .select("doc_id", "term").as[(Long, String)].collect()
    // doc 4's distinctive terms beat "the" (df = 4 → negative-ish idf)
    val doc4 = top.filter(_._1 == 4L).map(_._2).toSet
    assert(doc4.subsetOf(Set("quantum", "flux", "capacitor")) && doc4.size == 2)
    // every doc yields at most k rows
    assert(top.groupBy(_._1).forall(_._2.length <= 2))
  }

  test("logIdf=false produces the same per-document ranking (monotone)") {
    def ranks(logIdf: Boolean) =
      TermStats.bm25TopTerms(docs, "doc_id", "text", k = 3, logIdf = logIdf)
        .orderBy($"doc_id", $"score".desc, $"term")
        .select("doc_id", "term").as[(Long, String)].collect().toSeq
    assert(ranks(true) == ranks(false))
  }

  test("heavyHitters returns top-k by occurrences with doc frequency") {
    val hh = TermStats.heavyHitters(docs, "doc_id", "text", 3)
      .as[(String, Long, Long)].collect().toSeq
    assert(hh.head == ("the", 7L, 4L))
    assert(hh.map(_._2) == hh.map(_._2).sorted.reverse)
    assert(hh.length == 3)
  }

  test("bigramPairs emits adjacent in-order pairs; short docs emit none") {
    val d = Seq((1L, "a b c"), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    val pairs = TermStats.bigramPairs(d, "doc_id", "text")
      .as[(Long, String, String)].collect().toSet
    assert(pairs == Set((1L, "a", "b"), (1L, "b", "c")))
  }

  test("collocations ranks repeated pairs above chance pairings") {
    // "new york" always co-occurs; "the" pairs with everything
    val d = (1 to 20).map(i =>
      (i.toLong, s"the city of new york hosts the game $i")).toDF("doc_id", "text")
    val top = TermStats.collocations(d, "doc_id", "text", k = 5)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(top.nonEmpty)
    val topPairs = top.map(t => (t._1, t._2))
    assert(topPairs.contains(("new", "york")))
    // "the" appears as w1 of two different pairs → diluted, ranks below
    val pmiOf = top.map(t => ((t._1, t._2), t._4)).toMap
    assert(pmiOf(("new", "york")) >= pmiOf.getOrElse(("the", "city"), 0.0))
    // hand-check the rational PMI of a deterministic pair:
    // every doc contributes 8 bigrams → N = 160; c(new york) = 20,
    // c(new as w1) = 20, c(york as w2) = 20 → 160·20/(20·20) = 8.0
    assert(pmiOf(("new", "york")) == 8.0)
  }

  test("collocations minCount suppresses one-off pairs") {
    val d = Seq((1L, "rare pair " * 5 + "x y"), (2L, "unrelated text here"))
      .toDF("doc_id", "text")
    val out = TermStats.collocations(d, "doc_id", "text", k = 10)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out.forall(_._3 >= 5))
    assert(out.map(t => (t._1, t._2)).contains(("rare", "pair")))
    assert(!out.map(t => (t._1, t._2)).contains(("x", "y")))
  }

  test("oovRate scores against the corpus' own top-k vocabulary") {
    // occurrences: common ×6 (3 docs × 2), mid ×3, rare ×1 each → top-2
    // vocabulary = {common, mid}
    val d = Seq(
      (1L, "common common mid rare1"),
      (2L, "common common mid rare2"),
      (3L, "common common mid"),
      (4L, "")).toDF("doc_id", "text")
    val out = TermStats.oovRate(d, "doc_id", "text", vocabSize = 2)
      .select($"doc_id", $"n_tokens", $"n_oov", $"oov_rate")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((4L, 1L, 0.25)))
    assert(out(2L) == ((4L, 1L, 0.25)))
    assert(out(3L) == ((3L, 0L, 0.0)))
    assert(!out.contains(4L)) // empty doc: no row
    // vocabSize covering every term → zero OOV everywhere
    val full = TermStats.oovRate(d, "doc_id", "text", vocabSize = 100)
      .agg(sum($"n_oov")).as[Long].collect().head
    assert(full == 0L)
  }
}
