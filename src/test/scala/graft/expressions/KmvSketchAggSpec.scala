package graft.expressions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Sketches

class KmvSketchAggSpec extends SparkSpec {
  import spark.implicits._

  private def bruteBottomK(values: Seq[Long], k: Int): Seq[Long] =
    values.distinct.sorted.take(k)

  test("sketch equals the brute-force bottom-k distinct set") {
    val vals = (1 to 2000).map(i => (i * 2654435761L) % 100003L)
    val df = vals.toDF("h")
    val got = df.agg(Sketches.kmvSketch($"h", 64).as("sk"))
      .head().getSeq[Long](0)
    assert(got == bruteBottomK(vals, 64))
  }

  test("result is partitioning-independent (merge path exercised)") {
    val vals = (1 to 5000).map(i => (i * 48271L) % 65537L)
    val one = vals.toDF("h").coalesce(1)
      .agg(Sketches.kmvSketch($"h", 128)).head().getSeq[Long](0)
    val many = vals.toDF("h").repartition(16)
      .agg(Sketches.kmvSketch($"h", 128)).head().getSeq[Long](0)
    assert(one == many)
  }

  test("under-full sketch is exhaustive and the estimate is exact") {
    val df = Seq(5L, 1L, 5L, 9L, 1L).toDF("h")
    val r = df.agg(Sketches.kmvSketch($"h", 16).as("sk"))
      .select($"sk", Sketches.kmvEstimate($"sk", 16).as("est")).head()
    assert(r.getSeq[Long](0) == Seq(1L, 5L, 9L))
    assert(r.getDouble(1) == 3.0)
  }

  test("estimator lands within 20% on 100k distinct hash60 values") {
    val k = 256
    val df = spark.range(100000).select(
      Sketches.hash60(col("id").cast("string")).as("h"))
    val est = df.agg(Sketches.kmvSketch($"h", k).as("sk"))
      .select(Sketches.kmvEstimate($"sk", k)).head().getDouble(0)
    assert(math.abs(est - 100000.0) / 100000.0 < 0.2, s"estimate $est")
  }

  test("kmv_merge of per-group sketches equals the direct global sketch") {
    val vals = (1 to 3000).map(i => ((i % 7).toString, (i * 69621L) % 32749L))
    val df = vals.toDF("g", "h")
    val direct = df.agg(Sketches.kmvSketch($"h", 64)).head().getSeq[Long](0)
    val merged = df.groupBy($"g").agg(Sketches.kmvSketch($"h", 64).as("sk"))
      .agg(Sketches.kmvMerge($"sk", 64)).head().getSeq[Long](0)
    assert(merged == direct)
  }

  test("nulls are skipped; empty input yields an empty sketch") {
    val df = Seq(Some(3L), None, Some(7L)).toDF("h")
    assert(df.agg(Sketches.kmvSketch($"h", 8)).head().getSeq[Long](0)
      == Seq(3L, 7L))
    val empty = spark.emptyDataset[Long].toDF("h")
    assert(empty.agg(Sketches.kmvSketch($"h", 8)).head().getSeq[Long](0)
      .isEmpty)
  }

  test("property: buffer insert and merge equal brute bottom-k (seeded sweep)") {
    import scala.jdk.CollectionConverters._
    val rnd = new scala.util.Random(42)
    def build(vals: Seq[Long], k: Int): java.util.TreeSet[java.lang.Long] = {
      val buf = new java.util.TreeSet[java.lang.Long]()
      vals.foreach(v => KmvSketchAgg.insert(buf, v, k))
      buf
    }
    (1 to 50).foreach { _ =>
      val k = 2 + rnd.nextInt(63)
      // skewed value space so duplicates and near-bottom churn both occur
      val vals = Seq.fill(rnd.nextInt(300))(rnd.nextLong() % 1000)
      val brute = vals.distinct.sorted.take(k)
      assert(build(vals, k).asScala.toList.map(_.longValue) == brute)
      // any split, merged, equals the direct build
      val (a, b) = vals.splitAt(if (vals.isEmpty) 0 else rnd.nextInt(vals.size))
      val agg = KmvSketchAgg(
        org.apache.spark.sql.catalyst.expressions.Literal(0L), k)
      val merged = agg.merge(build(a, k), build(b, k))
      assert(merged.asScala.toList.map(_.longValue) == brute)
    }
  }

  test("count-min estimates never undercount and are exact sans collision") {
    val occurrences = (1 to 500).map(i => s"t${i % 7}").toDF("term")
    val exact = occurrences.groupBy("term").count()
      .as[(String, Long)].collect().toMap
    val cells = Sketches.countMinCells(occurrences, "term")
    val est = Sketches.countMinEstimate(cells, occurrences.distinct(),
        "term")
      .as[(String, Long)].collect().toMap
    exact.foreach { case (t, c) => assert(est(t) >= c) }
    // 7 items in 1024 buckets across 4 rows: some row is collision-free
    // for every item, so the min-estimate is exact
    assert(est == exact)
  }

  test("count-min probe of an unseen item reports est_count 0, not no row") {
    val occurrences = (1 to 500).map(i => s"t${i % 7}").toDF("term")
    val cells = Sketches.countMinCells(occurrences, "term")
    // "zzz_never_seen" hashes to cells the sparse frame never built —
    // the left join must surface it at 0 rather than dropping it, and
    // an absent cell reads as count 0 in the min (the true CMS answer)
    val probe = Seq("t1", "zzz_never_seen").toDF("term")
    val est = Sketches.countMinEstimate(cells, probe, "term")
      .as[(String, Long)].collect().toMap
    assert(est.keySet == Set("t1", "zzz_never_seen"))
    assert(est("zzz_never_seen") == 0L)
    assert(est("t1") > 0L)
  }

  test("count-min cells merge: union-then-sum equals cells of the union") {
    val a = (1 to 200).map(i => s"w${i % 5}").toDF("term")
    val b = (1 to 300).map(i => s"w${i % 9}").toDF("term")
    val merged = Sketches.countMinCells(a, "term")
      .unionByName(Sketches.countMinCells(b, "term"))
      .groupBy($"depth", $"bucket")
      .agg(sum($"c").as("c"))
      .as[(Int, Long, Long)].collect().toSet
    val direct = Sketches.countMinCells(a.unionByName(b), "term")
      .as[(Int, Long, Long)].collect().toSet
    assert(merged == direct)
  }

  test("kmvOverlap: identity, disjoint, and a saturated accuracy check") {
    import org.apache.spark.sql.functions.col
    def sketchOf(ids: Range): org.apache.spark.sql.DataFrame =
      ids.map(_.toLong).toDF("v")
        .select(Sketches.hash60(col("v").cast("string")).as("h"))
        .agg(Sketches.kmvSketch(col("h"), 256).as("sk"))
    def overlap(a: Range, b: Range): (Double, Double, Double) =
      sketchOf(a).crossJoin(sketchOf(b).withColumnRenamed("sk", "skb"))
        .select(Sketches.kmvOverlap(col("sk"), col("skb"), 256).as("ov"))
        .select(col("ov.est_union"), col("ov.est_jaccard"),
          col("ov.est_intersection"))
        .as[(Double, Double, Double)].collect().head
    // identity: J = 1, intersection estimate = union estimate
    val (u1, j1, i1) = overlap(1 to 5000, 1 to 5000)
    assert(j1 == 1.0 && i1 == u1)
    // disjoint: J = 0
    val (_, j0, i0) = overlap(1 to 5000, 6001 to 11000)
    assert(j0 == 0.0 && i0 == 0.0)
    // true J = 5000/15000, intersection 5000: saturated estimate lands
    // in the neighborhood (deterministic — a fixed fact, not flaky)
    val (u, j, i) = overlap(1 to 10000, 5001 to 15000)
    assert(math.abs(u - 15000.0) / 15000.0 < 0.2, s"union $u")
    assert(math.abs(j - 1.0 / 3.0) < 0.12, s"jaccard $j")
    assert(math.abs(i - 5000.0) / 5000.0 < 0.35, s"intersection $i")
  }

  test("distinctReport groups and estimates per key") {
    // source s0 sees the 25 even tok ids, s1 the 25 odd ones
    val df = (1 to 400).map(i => (s"s${i % 2}", s"tok${i % 50}"))
      .toDF("source", "term")
    val rep = Sketches.distinctReport(df, Seq("source"), "term", k = 256)
      .orderBy("source").collect()
    assert(rep.length == 2)
    rep.foreach { r =>
      assert(r.getAs[Int]("sketch_size") == 25)
      assert(r.getAs[Double]("est_distinct") == 25.0) // under-full → exact
      assert(r.getAs[Long]("n_exact") == 25L)
    }
  }
}
