package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Sketches

class HllSketchAggSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side register reference from raw hash values. */
  private def refRegisters(hashes: Seq[Long], p: Int): Array[Int] = {
    val m = 1 << p
    val rem = 60 - p
    val regs = new Array[Int](m)
    hashes.foreach { h =>
      val bucket = (h >>> rem).toInt & (m - 1)
      val tail = h & ((1L << rem) - 1)
      val rho =
        if (tail == 0L) rem + 1
        else rem + 1 - (64 - java.lang.Long.numberOfLeadingZeros(tail))
      if (rho > regs(bucket)) regs(bucket) = rho
    }
    regs
  }

  private def hash60Of(values: Seq[String]): Seq[Long] =
    values.toDF("v").select(Sketches.hash60($"v")).as[Long].collect().toSeq

  test("registers match the driver reference and are partitioning-invariant") {
    val values = (0 until 5000).map(i => s"tok_$i")
    val expected = refRegisters(hash60Of(values), p = 6)
    val got = values.toDF("v")
      .select(Sketches.hash60($"v").as("h"))
      .agg(Sketches.hllSketch($"h", 6).as("regs"))
      .select($"regs").as[Seq[Int]].head()
    assert(got.toArray.toSeq == expected.toSeq)
    val reshuffled = values.toDF("v").repartition(17)
      .select(Sketches.hash60($"v").as("h"))
      .agg(Sketches.hllSketch($"h", 6).as("regs"))
      .select($"regs").as[Seq[Int]].head()
    assert(reshuffled == got)
  }

  test("hll_merge of per-shard sketches equals the sketch of the union") {
    val a = (0 until 3000).map(i => s"a_$i")
    val b = (1500 until 4500).map(i => s"a_$i") // overlaps a
    def sketchOf(vs: Seq[String]) = vs.toDF("v")
      .select(Sketches.hash60($"v").as("h"))
      .agg(Sketches.hllSketch($"h", 6).as("regs"))
    val merged = sketchOf(a).unionAll(sketchOf(b))
      .agg(Sketches.hllMerge($"regs", 6).as("regs"))
      .select($"regs").as[Seq[Int]].head()
    val direct = sketchOf(a ++ b).select($"regs").as[Seq[Int]].head()
    assert(merged == direct)
  }

  test("estimate lands within the ~1.04/sqrt(m) band; duplicates ignored") {
    val distinct = 20000
    val values = (0 until distinct).map(i => s"v_$i") ++
      (0 until 5000).map(i => s"v_${i % 100}") // heavy duplication
    val est = values.toDF("v")
      .select(Sketches.hash60($"v").as("h"))
      .agg(Sketches.hllSketch($"h", 8).as("regs"))
      .select(Sketches.hllEstimate($"regs", 8)).as[Double].head()
    // 3 sigma at m=256: 3 * 1.04/16 = 19.5%
    assert(math.abs(est - distinct) / distinct < 0.195, s"est=$est")
  }

  test("small-range linear counting is exact-ish; empty group all zeros") {
    val est = (0 until 10).map(i => s"x_$i").toDF("v")
      .select(Sketches.hash60($"v").as("h"))
      .agg(Sketches.hllSketch($"h", 6).as("regs"))
      .select(Sketches.hllEstimate($"regs", 6)).as[Double].head()
    assert(est > 8.0 && est < 12.5, s"est=$est")
    val regs = spark.emptyDataFrame.select(lit(1L).as("h")).limit(0)
      .agg(Sketches.hllSketch($"h", 4).as("regs"))
      .select($"regs").as[Seq[Int]].head()
    assert(regs == Seq.fill(16)(0))
  }

  test("register file has 2^p entries; a non-bigint input is rejected") {
    val words = Seq("a", "b", "c").toDF("v")
    val size = words.agg(Sketches.hllSketch(Sketches.hash60($"v"), 4).as("regs"))
      .selectExpr("size(regs)").as[Int].head()
    assert(size == 16)
    val e = intercept[Exception](words.agg(Sketches.hllSketch($"v", 4)).collect())
    assert(e.getMessage.contains("hll_sketch requires a bigint hash column"))
  }
}
