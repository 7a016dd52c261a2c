package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BloomPruneSpec extends SparkSpec {
  import spark.implicits._

  // 10k probe rows, build side matching 1-in-50 of them
  val probe = (1 to 10000).map(i => (i.toLong, s"row$i")).toDF("pk", "pv")
  val build = (1 to 10000 by 50).map(i => (i.toLong, s"dim$i")).toDF("bk", "bv")

  test("bloom-pruned inner join equals the plain join (no false negatives)") {
    val plain = probe.join(build, $"pk" === $"bk")
      .select("pk", "pv", "bv").as[(Long, String, String)].collect().toSet
    val pruned = BloomPrune.join(probe, "pk", build, "bk",
        expectedItems = 200)
      .select("pk", "pv", "bv").as[(Long, String, String)].collect().toSet
    assert(pruned == plain)
    assert(plain.size == 200)
  }

  test("the prefilter actually prunes: survivors ≈ matches + fpp of the rest") {
    val survivors = BloomPrune.prune(probe, "pk", build, "bk",
      expectedItems = 200).count()
    // 200 true matches; false positives bounded well below the probe size
    assert(survivors >= 200)
    assert(survivors <= 200 + (10000 * 0.10).toLong,
      s"bloom pruned almost nothing: $survivors of 10000 survived")
  }

  test("empty build side prunes everything and joins to empty") {
    val empty = build.filter(lit(false))
    assert(BloomPrune.prune(probe, "pk", empty, "bk", 10).count() == 0)
    assert(BloomPrune.join(probe, "pk", empty, "bk", 10).count() == 0)
  }

  test("null probe keys are dropped, null build keys are ignored") {
    val p = Seq((Some(1L), "a"), (None, "n"), (Some(3L), "c"))
      .toDF("pk", "pv")
    val b = Seq((Some(1L), "x"), (None, "y")).toDF("bk", "bv")
    val out = BloomPrune.join(p, "pk", b, "bk", 10)
      .select("pk", "pv", "bv").as[(Long, String, String)].collect().toSet
    assert(out == Set((1L, "a", "x")))
  }

  test("join resolves when both sides name the key identically") {
    val p = Seq((1L, "a"), (2L, "b")).toDF("k", "pv")
    val b = Seq((1L, "x"), (9L, "y")).toDF("k", "bv")
    val joined = BloomPrune.join(p, "k", b, "k", 10)
      .select("pv", "bv").as[(String, String)].collect().toSet
    assert(joined == Set(("a", "x")))
  }

  test("a build larger than the runtime-filter conf caps still gets its requested bits") {
    // shrink the caps: an un-raised build would be clamped to 512 bits for
    // 2000 keys (~0.25 bits/key → fpp ≈ 1) and prune nothing
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (oldI, oldB) = (spark.conf.get(itemsKey), spark.conf.get(bitsKey))
    try {
      spark.conf.set(itemsKey, "100")
      spark.conf.set(bitsKey, "512")
      val keys = (1 to 2000).map(_.toLong).toDF("k")
      val bf = BloomPrune.buildFilter(keys, "k", expectedItems = 2000,
        fpp = 0.01)
      val nonMembers = (100001 to 102000).map(_.toLong).toDF("k")
      val fp = nonMembers.filter(BloomPrune.mightContain(bf, $"k")).count()
      assert(fp <= 100, s"conf cap degraded the filter: $fp/2000 false positives")
      // and the conf mutation was restored
      assert(spark.conf.get(itemsKey) == "100" && spark.conf.get(bitsKey) == "512")
    } finally {
      spark.conf.set(itemsKey, oldI)
      spark.conf.set(bitsKey, oldB)
    }
  }
}
