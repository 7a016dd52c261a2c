package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.{Dedup, TextAnalysis}

class SimHashPortableExprSpec extends SparkSpec {
  import spark.implicits._

  val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "completely different text about spark shuffles",
    "", "   single")

  test("native kernel matches the built-in md5/conv HOF formulation exactly") {
    val df = texts.toDF("t").select(
      Dedup.simhash60Portable(TextAnalysis.tokens(lower($"t"))).as("native"),
      Dedup.simhash60PortableHof(TextAnalysis.tokens(lower($"t"))).as("hof"))
    val rows = df.as[(Long, Long)].collect()
    rows.foreach { case (n, h) => assert(n == h, s"native=$n hof=$h") }
  }

  test("portable token hash equals the SQL restatement conv(substring(md5))") {
    // the seam the DuckDB oracle relies on: hash60(t) must equal
    // conv(substring(md5(t),1,15),16,10) for any token
    val toks = Seq("hello", "wörld", "", "a b", "123")
    val viaSql = toks.toDF("t")
      .select(conv(substring(md5($"t".cast("binary")), 1, 15), 16, 10)
        .cast("long").as("h"))
      .as[Long].collect()
    val viaKernel = toks.map(t =>
      Hash60Expr.hash60(t.getBytes("UTF-8")))
    assert(viaSql.toSeq == viaKernel)
    // 60-bit: always non-negative, below 2^60
    viaKernel.foreach(h => assert(h >= 0L && h < (1L << 60)))
  }

  test("null array yields null; null tokens are skipped in both formulations") {
    val df = Seq((Some(Seq("a", "b")), 1), (None, 2)).toDF("toks", "i")
    val out = df.select(SimHashPortableExpr.simhash60Portable($"toks").as("s"))
      .collect().map(r => Option(r.get(0)))
    assert(out(0).isDefined && out(1).isEmpty)
    val withNull = Seq(Seq[String]("a", null, "b")).toDF("toks")
      .select(SimHashPortableExpr.simhash60Portable($"toks").as("native"),
        Dedup.simhash60PortableHof($"toks").as("hof"))
      .as[(Long, Long)].collect().head
    assert(withNull._1 == withNull._2)
    // skipping nulls == hashing the null-free array
    val noNull = Seq(Seq("a", "b")).toDF("toks")
      .select(SimHashPortableExpr.simhash60Portable($"toks"))
      .as[Long].head()
    assert(withNull._1 == noNull)
  }

  test("15-bit-chunk near-dup pairing finds planted clones") {
    // an exact clone lands at hamming 0; one appended token can flip every
    // zero-vote bit, so a "near" clone is NOT guaranteed within maxDist —
    // the chunk-join machinery (not the hash) is what this test pins
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    val docs = Seq(
      (1L, base), (2L, base), (3L, "totally unrelated words entirely"))
      .toDF("doc_id", "text")
    val hashed = docs.select($"doc_id",
      Dedup.simhash60Portable(TextAnalysis.tokens(lower($"text"))).as("sh"))
    val pairs = Dedup.simhashNearDups(hashed, "doc_id", "sh",
        maxDist = 3, numChunks = 4, chunkBits = 15, simBits = 60)
      .select($"doc_id_a", $"doc_id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }
}
