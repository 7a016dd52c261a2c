package graft.functions

import graft.SparkSpec

/** Unigram/Viterbi tokenization: kernel vs an independent driver
  * reference (exhaustive segmentation enumeration — a different
  * algorithm entirely), plus the DP-beats-greedy and tie-break pins
  * the oracle relies on. */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference: enumerate ALL segmentations, keep those
    * with maximum total score, then apply the longest-token-at-each-
    * backtrack-position rule by ordering candidates lexicographically
    * on their reversed token-length sequence (longest last token first,
    * then longest second-to-last, ...). */
  private def ref(word: String, vocab: Map[String, Long],
                  unk: String = "[UNK]", maxChars: Int = 100): String = {
    if (word.isEmpty || word.codePointCount(0, word.length) > maxChars)
      return "|" + unk
    def segs(s: String): Seq[List[String]] =
      if (s.isEmpty) Seq(Nil)
      else (1 to s.length).flatMap { l =>
        val h = s.substring(0, l)
        if (vocab.contains(h)) segs(s.substring(l)).map(h :: _) else Nil
      }
    val all = segs(word)
    if (all.isEmpty) return "|" + unk
    val best = all.map(seg => seg -> seg.map(vocab).sum)
    val top = best.map(_._2).max
    // backtrack-from-the-end longest-token preference == max by the
    // reversed length sequence, compared lexicographically
    val chosen = best.filter(_._2 == top).map(_._1)
      .maxBy(seg => seg.reverse.map(_.length): Seq[Int])(
        Ordering.Implicits.seqOrdering)
    chosen.mkString("|", "|", "")
  }

  private def run(words: Seq[String], vocab: Seq[(String, Long)],
                  maxChars: Int = 100): Seq[String] =
    words.toDF("w")
      .select(Unigram.applyVocab($"w", vocab, maxWordChars = maxChars).as("t"))
      .as[String].collect().toSeq

  test("DP beats greedy: two short tokens outscore one long; UNK when " +
       "no segmentation covers the word; maxWordChars counts codepoints") {
    val vocab = Seq("ab" -> 3L, "abc" -> 5L, "c" -> 4L, "a" -> 1L, "b" -> 1L)
    // greedy longest-first would take abc(5); DP takes ab+c = 7
    assert(run(Seq("abc"), vocab) == Seq("|ab|c"))
    assert(run(Seq("abd"), vocab) == Seq("|[UNK]")) // 'd' uncoverable
    assert(run(Seq("abc"), vocab, maxChars = 2) == Seq("|[UNK]"))
  }

  test("equal-score tie resolves to the longest token at each backtrack " +
       "position") {
    // ab(10) ties a(5)+b(5); rule picks the merged token
    assert(run(Seq("ab"), Seq("ab" -> 10L, "a" -> 5L, "b" -> 5L)) ==
      Seq("|ab"))
    // chain tie: abab as ab|ab (backtrack takes ab at p=4, then ab)
    assert(run(Seq("abab"), Seq("ab" -> 10L, "a" -> 5L, "b" -> 5L)) ==
      Seq("|ab|ab"))
    // tie between a|bc and ab|c (both 15): last-token-longest wins → a|bc
    assert(run(Seq("abc"),
      Seq("a" -> 5L, "bc" -> 10L, "ab" -> 10L, "c" -> 5L)) == Seq("|a|bc"))
  }

  test("negative scores (log-probs) are honored: fewer tokens win when " +
       "every token costs") {
    val vocab = Seq("a" -> -10L, "aa" -> -12L, "aaa" -> -15L)
    // aaaa: aaa+a = -25 beats aa+aa = -24? no: -24 > -25 → aa|aa
    assert(run(Seq("aaaa"), vocab) == Seq("|aa|aa"))
    assert(run(Seq("aaa"), vocab) == Seq("|aaa")) // -15 beats -22, -30
  }

  test("fuzz: kernel equals exhaustive-enumeration reference on random " +
       "draws with mixed-sign scores") {
    val rnd = new scala.util.Random(67)
    val alphabet = "abc"
    def randTok(): String =
      (1 to (1 + rnd.nextInt(3))).map(_ => alphabet(rnd.nextInt(3))).mkString
    for (round <- 1 to 8) {
      val vocab = (1 to 14).map(_ => randTok()).distinct
        .map(t => t -> (rnd.nextInt(41) - 20).toLong)
      val words = (1 to 120).map(_ =>
        (0 to rnd.nextInt(9)).map(_ => alphabet(rnd.nextInt(3))).mkString)
      val got = run(words, vocab)
      val want = words.map(w => ref(w, vocab.toMap))
      assert(got == want, s"round $round vocab=$vocab")
    }
  }

  test("vocabUtility: frequency-weighted usage with the exact share " +
       "verdict; the UNK pseudo-token competes as data") {
    val vocab = Seq("ab" -> 10L, "a" -> 5L, "b" -> 5L, "c" -> 5L)
    val words = Seq(("ab", 10L), ("abc", 5L), ("zz", 3L))
      .toDF("word", "freq")
    val rows = Unigram.vocabUtility(words, "word", "freq", vocab,
        shareDen = 4).orderBy("token")
      .as[(String, Long, Boolean)].collect().toSeq
    // segs: ab→|ab (10×1 ab); abc→|ab|c (5 ab, 5 c); zz→|[UNK]| (3)
    // usage: ab 15, c 5, [UNK] 3; total 23; keep iff usage*4 >= 23
    assert(rows == Seq(("[UNK]", 3L, false), ("ab", 15L, true),
      ("c", 5L, false)))
  }
}
