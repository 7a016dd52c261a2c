package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec

class NfcNormalizeExprSpec extends SparkSpec {
  import spark.implicits._

  private def norm(s: String): String =
    Seq(s).toDF("v").select(NfcNormalizeExpr.nfcNormalize($"v"))
      .as[String].head()

  test("composes decomposed sequences; idempotent on composed text") {
    // e + COMBINING ACUTE (U+0301) -> é (U+00E9)
    assert(norm("café") == "café")
    assert(norm("café") == "café")
    // o + COMBINING DIAERESIS (U+0308) -> ö (U+00F6)
    assert(norm("töne") == "töne")
    // A + COMBINING RING (U+030A) -> Å (U+00C5)
    assert(norm("Å") == "Å")
    // ASCII and empty pass through untouched
    assert(norm("plain ascii 123") == "plain ascii 123")
    assert(norm("") == "")
    // null stays null
    val n = Seq(Option.empty[String]).toDF("v")
      .select(NfcNormalizeExpr.nfcNormalize($"v"))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("normalization unifies fingerprints of visually-identical text") {
    // the dedup motivation: composed and decomposed forms of the same
    // visible string must hash identically after the pass
    val df = Seq(("café menu"), ("café menu")).toDF("t")
    val distinctRaw = df.select(md5($"t")).distinct().count()
    val distinctNorm = df
      .select(md5(NfcNormalizeExpr.nfcNormalize($"t"))).distinct().count()
    assert(distinctRaw == 2 && distinctNorm == 1)
  }
}
