package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Dedup

class MinHashSigExprSpec extends SparkSpec {
  import spark.implicits._

  val texts = Seq(
    "the quick brown fox jumps over the lazy dog and more text here",
    "a completely different document about spark and shuffles",
    "x")

  test("native signature matches the HOF formulation for 16 and 64 hashes") {
    for (n <- Seq(16, 64)) {
      val df = texts.toDF("t").select(
        Dedup.hashedShingles(Dedup.charShingles(lower($"t"), 5)).as("hs"))
      val out = df.select(
        Dedup.minhashSignatureFromHashes($"hs", n).as("native"),
        Dedup.minhashSignatureFromHashesHof($"hs", n).as("hof"))
        .as[(Seq[Long], Seq[Long])].collect()
      out.foreach { case (nat, hof) => assert(nat == hof) }
      assert(out.head._1.size == n)
    }
  }

  test("signature values stay in [0, P)") {
    val out = texts.toDF("t")
      .select(Dedup.minhashSignatureFromHashes(
        Dedup.hashedShingles(Dedup.charShingles($"t", 3)), 32).as("s"))
      .as[Seq[Long]].collect().flatten
    assert(out.forall(v => v >= 0 && v < 2147483647L))
  }

  test("empty input yields an all-null signature, matching the HOF formulation") {
    val row = Seq(Seq.empty[Long]).toDF("hs")
      .select(MinHashSigExpr.minhashSig($"hs", 8).as("native"),
        Dedup.minhashSignatureFromHashesHof($"hs", 8).as("hof"))
      .collect().head
    assert(row.getSeq[Any](0) == Seq.fill(8)(null))
    assert(row.getSeq[Any](0) == row.getSeq[Any](1))
  }

  test("null input yields null") {
    val df = Seq(Option.empty[Seq[Long]]).toDF("hs")
    val out = df.select(MinHashSigExpr.minhashSig($"hs", 8)).collect().head
    assert(out.isNullAt(0))
  }
}
