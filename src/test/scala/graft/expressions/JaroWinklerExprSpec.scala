package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class JaroWinklerExprSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference — the construction the DuckDB oracle was
    * probed against (20k-pair python fuzz, 0 mismatches). */
  private def refJaro(a: String, b: String): Double = {
    val (la, lb) = (a.length, b.length)
    if (la == 0 || lb == 0) return 0.0
    val w = math.max(math.max(la, lb) / 2 - 1, 0)
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    for (i <- 0 until la) {
      val (lo, hi) = (math.max(0, i - w), math.min(lb - 1, i + w))
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!bm(j) && a(i) == b(j)) { am(i) = true; bm(j) = true; m += 1; done = true }
        j += 1
      }
    }
    if (m == 0) return 0.0
    var (t, j) = (0, 0)
    for (i <- 0 until la if am(i)) {
      while (!bm(j)) j += 1
      if (a(i) != b(j)) t += 1
      j += 1
    }
    t /= 2
    (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
  }

  private def refJw(a: String, b: String): Double = {
    val s = refJaro(a, b)
    if (s <= 0.7) s
    else {
      val l = a.zip(b).take(4).takeWhile { case (x, y) => x == y }.size
      s + l * 0.1 * (1.0 - s)
    }
  }

  private def jwOf(pairs: Seq[(String, String)]): Array[Double] =
    pairs.toDF("a", "b")
      .select(JaroWinklerExpr.jaroWinkler($"a", $"b"))
      .as[Double].collect()

  test("matches DuckDB jaro_winkler_similarity on probed golden values") {
    // values read straight off `SELECT jaro_winkler_similarity(a, b)`
    val cases = Seq(
      ("MARTHA", "MARHTA") -> 0.9611111111111111, // transposition + boost
      ("DIXON", "DICKSONX") -> 0.8133333333333332,
      ("JELLYFISH", "SMELLYFISH") -> 0.8962962962962964, // no common prefix
      ("DWAYNE", "DUANE") -> 0.8400000000000001,
      ("aaaaaab", "aaaaaac") -> 0.9428571428571428, // prefix capped at 4
      ("abcdef", "abzzzz") -> 0.5555555555555555, // jaro<=0.7: NO boost
      ("CRATE", "TRACE") -> 0.7333333333333334,
      ("abc", "abc") -> 1.0,
      ("", "abc") -> 0.0,
      ("", "") -> 0.0, // DuckDB convention: both-empty is 0, not 1
      ("a", "b") -> 0.0,
      ("ab", "ba") -> 0.0) // window 0: opposite-position chars never match
    val got = jwOf(cases.map(_._1))
    cases.map(_._2).zip(got).foreach { case (want, g) =>
      assert(java.lang.Double.doubleToLongBits(want) ==
        java.lang.Double.doubleToLongBits(g), s"want $want got $g")
    }
  }

  test("fuzz: expression equals the driver-side reference on 5k random " +
      "pairs (codegen path)") {
    val rnd = new scala.util.Random(11)
    val alphabet = "abcde"
    val pairs = Seq.fill(5000) {
      def s() = (0 until rnd.nextInt(9))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      (s(), s())
    }
    val got = jwOf(pairs)
    pairs.zip(got).foreach { case ((a, b), g) =>
      assert(java.lang.Double.doubleToLongBits(refJw(a, b)) ==
        java.lang.Double.doubleToLongBits(g), s"('$a','$b')")
    }
  }

  test("null inputs yield null; MARTHA/MARHTA scores 0.9611") {
    val out = Seq((Some("ab"), Some("ab")), (None, Some("x")),
        (Some("x"), None))
      .toDF("a", "b")
      .select(JaroWinklerExpr.jaroWinkler($"a", $"b"))
      .collect().map(r => Option(r.get(0)))
    assert(out(0).contains(1.0) && out(1).isEmpty && out(2).isEmpty)
    val jw = Seq(("MARTHA", "MARHTA")).toDF("a", "b")
      .select(JaroWinklerExpr.jaroWinkler($"a", $"b")).as[Double].head()
    assert(jw == 0.9611111111111111)
  }

  test("byte-mode kernel matches DuckDB on NON-ASCII probed golden values") {
    // values read straight off `SELECT jaro_winkler_similarity(a, b)` —
    // DuckDB compares UTF-8 bytes, so these pairs (byte length != char
    // length) separate the byte kernel from the char kernel
    val cases = Seq(
      ("café", "cafe") -> 0.8483333333333334,
      ("münchen", "munchen") -> 0.8821428571428571,
      ("münchén", "münchen") -> 0.9305555555555555,
      ("zürich", "zurichh") -> 0.8285714285714287,
      ("søren", "soren") -> 0.8400000000000001,
      ("東京", "東京都") -> 0.9333333333333333, // 6- vs 9-byte CJK
      ("café", "café") -> 1.0,
      ("naïve", "naive") -> 0.8577777777777779,
      ("MARTHA", "MARHTA") -> 0.9611111111111111) // ASCII: = char kernel
    val got = cases.map(_._1).toDF("a", "b")
      .select(JaroWinklerExpr.jaroWinklerBytes($"a", $"b"))
      .as[Double].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g == e) }
    // on pure ASCII the two kernels are bit-identical
    val ascii = Seq(("DIXON", "DICKSONX"), ("DWAYNE", "DUANE"),
      ("abcdef", "abzzzz"), ("", "x"))
    val charK = jwOf(ascii)
    val byteK = ascii.toDF("a", "b")
      .select(JaroWinklerExpr.jaroWinklerBytes($"a", $"b"))
      .as[Double].collect()
    charK.zip(byteK).foreach { case (c, b) => assert(c == b) }
  }

  test("symmetry and range invariants hold") {
    val rnd = new scala.util.Random(13)
    val pairs = Seq.fill(500) {
      def s() = (0 until (1 + rnd.nextInt(8)))
        .map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      (s(), s())
    }
    val fwd = jwOf(pairs)
    val rev = jwOf(pairs.map(_.swap))
    fwd.zip(rev).foreach { case (f, r) => assert(f == r) }
    fwd.foreach(v => assert(v >= 0.0 && v <= 1.0))
  }
}
