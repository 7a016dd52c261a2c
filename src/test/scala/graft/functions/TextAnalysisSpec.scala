package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount handles extra whitespace and empty strings") {
    val out = Seq("a  b\tc", "", "  x ").toDF("t")
      .select(TextAnalysis.tokenCount($"t").as("n")).as[Long].collect().toSeq
    assert(out == Seq(3L, 0L, 1L))
  }

  test("bpeTokenCount counts alnum runs and punctuation marks") {
    val out = Seq("Hello, world!").toDF("t")
      .select(TextAnalysis.bpeTokenCount($"t").as("n")).as[Long].collect().head
    assert(out == 4L) // hello , world !
  }

  test("punctRatio and stopwordRatio are zero-guarded") {
    val row = Seq(("a.b!", ""), ("the cat", "")).toDF("t", "pad")
      .select(TextAnalysis.punctRatio($"t").as("p"),
        TextAnalysis.stopwordRatio($"t").as("s"))
      .as[(Double, Double)].collect()
    assert(row(0)._1 == 0.5) // 2 punct / 4 chars
    assert(row(1)._2 == 0.5) // 'the' of 2 tokens
  }

  test("qualityScore stays in [0,1]") {
    val out = Seq("", "the quick brown fox.", "a" * 2000).toDF("t")
      .select(TextAnalysis.qualityScore($"t").as("q")).as[Double].collect()
    assert(out.forall(q => q >= 0.0 && q <= 1.0))
  }

  test("langId picks the language with most marker hits, en-first tiebreak") {
    val out = Seq("the cat and the dog is", "el gato de la casa los",
      "der hund und die katze das", "xyz").toDF("t")
      .select(TextAnalysis.langId($"t").as("l")).as[String].collect().toSeq
    assert(out == Seq("en", "es", "de", "en")) // no markers → tiebreak en
  }

  test("fingerprint is whitespace- and case-insensitive") {
    val out = Seq("The  Cat", "the cat", "the dog").toDF("t")
      .select(TextAnalysis.fingerprint($"t").as("f")).as[String].collect()
    assert(out(0) == out(1) && out(0) != out(2))
  }

  test("chunkDocuments: full coverage, overlap, short tail, " +
       "single-chunk short doc, empty/null docs dropped, guards") {
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, ten),            // 10 tokens, C=4 S=3 → 3 chunks of 4,4,4
      (2L, "a b c"),        // ≤ C → exactly one chunk
      (3L, ""),             // empty → no chunks
      (4L, null.asInstanceOf[String]), // null → no chunks
      (5L, (1 to 5).map(i => s"u$i").mkString(" "))) // 5 → 2 chunks (4, 2)
      .toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, "doc_id", "text",
        chunkTokens = 4, stride = 3)
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.map(r => (r._1, r._2)).toSeq ==
      Seq((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L), (5L, 0L), (5L, 1L)))
    // doc 1: windows start at tokens 1, 4, 7 (1-based) — every token
    // covered, adjacent windows share one token
    assert(out(0)._3 == "t1 t2 t3 t4")
    assert(out(1)._3 == "t4 t5 t6 t7")
    assert(out(2)._3 == "t7 t8 t9 t10")
    assert(out(3)._3 == "a b c" && out(3)._4 == 3L)
    assert(out(4)._3 == "u1 u2 u3 u4")
    assert(out(5)._3 == "u4 u5" && out(5)._4 == 2L)
    // guards fail fast
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(docs, "doc_id", "text", 4, 5)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocuments(docs, "doc_id", "text", 0, 1)
    }
  }

  test("cleanText strips markup and collapses whitespace") {
    val out = Seq(
      "<p class=\"x\">hello   <b>world</b></p>\n<br/>",
      "  plain\t\ttext  ",
      "a < b but 2 > 1")
      .toDF("t").select(TextAnalysis.cleanText($"t")).as[String].collect()
    assert(out(0) == "hello world")
    assert(out(1) == "plain text")
    assert(out(2) == "a 1") // '< b but 2 >' parses as a tag — regex, not HTML
  }
  test("htmlText hostile-page hardening: numeric character references " +
      "(hex, decimal, astral), CDATA, conditional comments, and " +
      "unclosed blocks swallowed to EOF") {
    val cases = Seq(
      // hex + decimal refs, adjacency runs, astral surrogate pair
      "<p>It&#x2019;s A&#8212;B &#65;&#66;&#67; &#x1F600;</p>" ->
        ("It\u2019s A\u2014B ABC " +
          new String(Character.toChars(0x1F600))),
      // double-escaped numeric ref stays literal (the &amp; discipline)
      "&amp;#65; stays" -> "&#65; stays",
      // invalid codepoints render U+FFFD, never a throw
      "<p>&#x110000; &#55296;</p>" -> "\uFFFD \uFFFD",
      // IE conditional comment: body contains '>' that breaks a naive
      // tag regex; CDATA raw markup; both gone whole
      "<p>ok</p><!--[if IE]><p>ie junk</p><![endif]--><p>t</p>" -> "ok t",
      "<p>a</p><![CDATA[ <p>raw</p> ]]><p>b</p>" -> "a b",
      // unclosed script/comment/CDATA swallow to EOF
      "<p>keep</p><script>var a = 1; <p>never text" -> "keep",
      "<p>keep</p><!-- truncated comment <p>never" -> "keep",
      "<p>keep</p><![CDATA[ truncated <p>never" -> "keep")
    val got = cases.map(_._1).toDF("h")
      .select(TextAnalysis.htmlText($"h")).as[String].collect()
    cases.map(_._2).zip(got).zipWithIndex.foreach { case ((want, g), i) =>
      assert(g == want, s"case $i: got [$g], want [$want]")
    }
  }
}
