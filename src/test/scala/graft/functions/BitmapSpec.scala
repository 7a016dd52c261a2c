package graft.functions

import graft.SparkSpec

/** Exact bitmap distinct: bit placement, idempotent merge, popcount
  * totals. */
class BitmapSpec extends SparkSpec {
  import spark.implicits._

  test("bit placement: v sets bit v%63 of bucket v div 63") {
    val df = Seq(("a", 0L), ("a", 62L), ("a", 63L), ("a", 0L))
      .toDF("g", "v")
    val got = Bitmap.bitmaps(df, "g", "v")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 0L, 1L | (1L << 62)), ("a", 1L, 1L)))
  }

  test("distinct counts are exact against countDistinct on a random set") {
    val rng = new scala.util.Random(9)
    val rows = Seq.fill(500)((s"g${rng.nextInt(3)}", rng.nextInt(400).toLong))
    val df = rows.toDF("g", "v")
    val got = Bitmap.distinctCounts(Bitmap.bitmaps(df, "g", "v"), "g")
      .as[(String, Long)].collect().toMap
    val want = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size.toLong).toMap
    assert(got == want)
  }

  test("negative values fail loudly") {
    val e = intercept[Exception] {
      Bitmap.bitmaps(Seq(("g", -1L)).toDF("g", "v"), "g", "v").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("has no bit")))
  }
  test("jaccardReport: AND popcounts equal the exact set intersection, " +
      "missing words intersect as zero") {
    import spark.implicits._
    // group g: A = {1, 63, 64}, B = {63, 64, 200} -> common {63, 64};
    // group h: only on the A side -> n_b = 0
    val a = Bitmap.bitmaps(Seq(("g", 1L), ("g", 63L), ("g", 64L),
      ("h", 5L)).toDF("g", "v"), "g", "v")
    val b = Bitmap.bitmaps(Seq(("g", 63L), ("g", 64L), ("g", 200L))
      .toDF("g", "v"), "g", "v")
    val got = Bitmap.jaccardReport(a, b, "g")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(("g", 3L, 3L, 2L, 500000L),
      ("h", 1L, 0L, 0L, 0L)))
  }
}
