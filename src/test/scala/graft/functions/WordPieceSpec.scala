package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** WordPiece application: greedy longest-match-first against an
  * independent driver reference (different algorithm shape — unbounded
  * suffix recursion vs the kernel's max-token-length-bounded backward
  * scan), plus the HF-semantic edges the oracle relies on. */
class WordPieceSpec extends SparkSpec {
  import spark.implicits._

  /** Independent reference: recursive greedy longest match from the
    * whole remaining suffix down. */
  private def ref(word: String, vocab: Set[String], unk: String = "[UNK]",
                  maxChars: Int = 100): String = {
    if (word.isEmpty || word.codePointCount(0, word.length) > maxChars)
      return "|" + unk
    def go(start: Int, acc: List[String]): Option[List[String]] =
      if (start >= word.length) Some(acc.reverse)
      else (word.length to (start + 1) by -1).iterator
        .map { e =>
          val s = word.substring(start, e)
          (if (start > 0) "##" + s else s, e)
        }
        .find(p => vocab.contains(p._1) &&
          (start > 0 || !p._1.startsWith("##"))) match {
          case Some((tok, e)) => go(e, tok :: acc)
          case None => None
        }
    go(0, Nil).map(_.mkString("|", "|", "")).getOrElse("|" + unk)
  }

  private def run(words: Seq[String], vocab: Seq[String]): Seq[String] =
    words.toDF("w")
      .select(WordPiece.applyVocab($"w", vocab).as("t"))
      .as[String].collect().toSeq

  test("BERT-style segmentation: continuation prefixes, longest match wins") {
    val vocab = Seq("play", "##ing", "##in", "##g", "p", "##l", "##a", "##y",
      "un", "##play", "##able", "i", "##n", "##i", "n", "g")
    val got = run(Seq("playing", "unplayable", "in", "ing"), vocab)
    // "playing" takes play + ##ing (longest continuation, not ##in + ##g)
    assert(got == Seq("|play|##ing", "|un|##play|##able", "|i|##n", "|i|##n|##g"))
  }

  test("whole word becomes UNK on any unmatched position or over-length") {
    val vocab = Seq("a", "##b")
    assert(run(Seq("ab", "ba", "abc", "a" + "b" * 150), vocab) ==
      Seq("|a|##b", "|[UNK]", "|[UNK]", "|[UNK]"))
    // maxWordChars counts codepoints: 3 astral chars are 6 UTF-16 units
    val emoji = "😀" // one astral codepoint
    val w = emoji * 3
    assert(w.length == 6)
    val got = Seq(w).toDF("w")
      .select(WordPiece.applyVocab($"w", Seq(emoji, "##" + emoji),
        maxWordChars = 3).as("t")).as[String].head()
    assert(got == s"|$emoji|##$emoji|##$emoji")
  }

  test("## is continuation-only even when the word literally starts " +
       "with ## (kernel, reference, and the SQL oracle's cont/raw model " +
       "agree)") {
    val vocab = Seq("##he", "h", "##e", "#", "###")
    // "##he": initial '#' (the literal token), continuation '###' (raw
    // '#'), then '##he' (raw 'he') — the ##-entry matches only mid-word
    assert(run(Seq("##he", "he", "#h"), vocab) ==
      Seq("|#|###|##he", "|h|##e", "|[UNK]"))
    // without '#' in the vocab a ##-leading word is unmatchable
    assert(run(Seq("##he"), Seq("##he", "h", "##e")) == Seq("|[UNK]"))
  }

  test("fuzz: kernel equals the suffix-recursion reference on random " +
       "vocab/word draws (alphabet includes the reserved #)") {
    val rnd = new scala.util.Random(47)
    val alphabet = "abc#"
    def randTok(): String =
      (1 to (1 + rnd.nextInt(3))).map(_ => alphabet(rnd.nextInt(4))).mkString
    for (round <- 1 to 8) {
      val vocab = ((1 to 12).map(_ => randTok()) ++
        (1 to 12).map(_ => "##" + randTok())).distinct
      val words = (1 to 120).map(_ =>
        (0 to rnd.nextInt(12)).map(_ => alphabet(rnd.nextInt(4))).mkString)
      val got = run(words, vocab)
      val want = words.map(w => ref(w, vocab.toSet))
      assert(got == want, s"round $round vocab=$vocab")
    }
  }
}
