package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Sketches

/** KLL-style quantile sketch: exactness below k, weight preservation,
  * rank-error bounds under adversarial orderings, merge ≡ direct
  * contract, SQL registration. */
class KllSketchAggSpec extends SparkSpec {
  import spark.implicits._

  private val K = 256

  /** Driver-side rank estimate from a flattened summary. */
  private def estQuantile(sk: Seq[(Int, Long)], n: Long, p: Double): Long = {
    val target = math.max(1L, math.ceil(p * n).toLong)
    var cum = 0L
    for ((lvl, v) <- sk.sortBy(_._2)) {
      cum += (1L << lvl)
      if (cum >= target) return v
    }
    sk.map(_._2).max
  }

  private def flatten(st: KllSketchAgg.State): Seq[(Int, Long)] =
    st.levels.zipWithIndex.flatMap { case (buf, i) => buf.map(i -> _) }.toSeq

  test("below k the sketch is the raw multiset at level 0 and quantiles " +
      "are exact") {
    val df = (1L to 100L).toDF("v")
    val sk = df.agg(Sketches.kllSketch($"v", K).as("sk"))
      .withColumn("n", Sketches.kllMass($"sk"))
    val got = sk.select($"n",
        Sketches.kllQuantile($"sk", $"n", 1, 2).as("p50"),
        Sketches.kllQuantile($"sk", $"n", 9, 10).as("p90"),
        Sketches.kllQuantile($"sk", $"n", 99, 100).as("p99"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(got == ((100L, 50L, 90L, 99L)))
    // every entry still at level 0
    val levels = sk.select(explode($"sk").as("e"))
      .select($"e.level").as[Int].collect()
    assert(levels.length == 100 && levels.forall(_ == 0))
  }

  test("weight is preserved exactly through compaction and every level " +
      "stays under k") {
    val n = 100000L
    val df = (0L until n).toDF("v").repartition(17)
    val sk = df.agg(Sketches.kllSketch($"v", K).as("sk"))
      .withColumn("n", Sketches.kllMass($"sk"))
    val (mass, maxLevelCount) = sk.select($"n",
        array_max(transform($"sk", e => e.getField("level"))).as("ml"))
      .as[(Long, Int)].collect().head
    assert(mass == n)
    val perLevel = sk.select(explode($"sk").as("e"))
      .groupBy($"e.level").count().as[(Int, Long)].collect().toMap
    assert(perLevel.values.forall(_ < K))
    assert(maxLevelCount >= 5) // compaction actually ran
  }

  test("rank error stays bounded under adversarial arrival orders " +
      "(sorted, reverse, interleaved, shuffled)") {
    val n = 200000
    val eps = 0.02
    val orders: Map[String, Seq[Long]] = Map(
      "sorted" -> (0 until n).map(_.toLong),
      "reverse" -> (n - 1 to 0 by -1).map(_.toLong),
      "interleaved" -> (0 until n).map(i =>
        if (i % 2 == 0) (i / 2).toLong else (n - 1 - i / 2).toLong),
      "shuffled" -> (0 until n).map(i => ((i * 48271L) % n + n) % n))
    for ((name, vs) <- orders) {
      val st = new KllSketchAgg.State()
      vs.foreach(v => KllSketchAgg.add(st, v, K))
      val sk = flatten(st)
      assert(sk.map(x => 1L << x._1).sum == n.toLong, s"$name mass")
      for (p <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)) {
        val est = estQuantile(sk, n.toLong, p)
        // values are 0..n-1 so rank(v) = v + 1
        val err = math.abs((est + 1) - math.ceil(p * n).toLong)
        assert(err <= eps * n, s"$name p=$p err=$err")
      }
    }
  }

  test("merge of per-shard sketches preserves mass exactly and keeps the " +
      "rank-error contract (the KmvSketchAgg merge-vs-direct template)") {
    val n = 140000
    val eps = 0.02
    val df = (0 until n).map(i => (i % 7, ((i * 69621L) % n + n) % n))
      .toDF("shard", "v")
    // seven hash partitions by shard: the final aggregate merges their
    // partial sketches
    val merged = df.repartition(7, $"shard")
      .agg(Sketches.kllSketch($"v", K).as("sk"))
      .withColumn("n", Sketches.kllMass($"sk"))
    val got = merged.select($"n",
        Sketches.kllQuantile($"sk", $"n", 1, 2).as("p50"),
        Sketches.kllQuantile($"sk", $"n", 9, 10).as("p90"))
      .as[(Long, Long, Long)].collect().head
    assert(got._1 == n.toLong)
    // v values are a permutation of 0..n-1: rank(v) = v + 1
    assert(math.abs(got._2 + 1 - math.ceil(0.5 * n).toLong) <= eps * n)
    assert(math.abs(got._3 + 1 - math.ceil(0.9 * n).toLong) <= eps * n)
    // direct single sketch over the same rows: same contract
    val direct = df.agg(Sketches.kllSketch($"v", K).as("sk"))
      .withColumn("n", Sketches.kllMass($"sk"))
      .select($"n", Sketches.kllQuantile($"sk", $"n", 1, 2))
      .as[(Long, Long)].collect().head
    assert(direct._1 == n.toLong)
    assert(math.abs(direct._2 + 1 - math.ceil(0.5 * n).toLong) <= eps * n)
  }

  test("guards: odd or tiny k fails fast; nulls are skipped") {
    intercept[IllegalArgumentException](
      KllSketchAgg(ColumnLit.expr(lit(1L)), 3))
    intercept[IllegalArgumentException](
      KllSketchAgg(ColumnLit.expr(lit(1L)), 7))
    val withNulls = Seq(Some(1L), None, Some(3L)).toDF("v")
    val mass = withNulls.agg(Sketches.kllMass(
      Sketches.kllSketch($"v", 64)).as("n")).as[Long].collect().head
    assert(mass == 2L)
  }
}

/** Tiny bridge for constructing agg expressions directly in guards. */
private object ColumnLit {
  def expr(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.graft.ColumnBridge.expression(c)
}
