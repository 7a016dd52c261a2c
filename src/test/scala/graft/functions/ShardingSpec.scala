package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

class ShardingSpec extends SparkSpec {
  import spark.implicits._

  val docs = (1 to 500).map(i => (i.toLong, (i % 37 + 1).toLong))
    .toDF("id", "toks")

  test("packShards equals the single-window global prefix sum") {
    val naive = docs.withColumn("cum_weight",
        sum($"toks").over(Window.orderBy($"id")
          .rowsBetween(Window.unboundedPreceding, 0)) - $"toks")
      .withColumn("shard_id", expr("cum_weight div 100"))
      .select("id", "cum_weight", "shard_id")
      .as[(Long, Long, Long)].collect().toSet
    val packed = Sharding.packShards(docs, "id", "toks", budget = 100,
        numPartitions = 7)
      .select("id", "cum_weight", "shard_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(packed == naive)
  }

  test("shards are consecutive, start at 0, and never split a document") {
    val packed = Sharding.packShards(docs, "id", "toks", budget = 100,
      numPartitions = 5).orderBy("id")
      .select("id", "toks", "cum_weight", "shard_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val shards = packed.map(_._4)
    assert(shards.head == 0L)
    assert(shards.zip(shards.tail).forall { case (a, b) => b - a <= 1 && b >= a })
    // every document's weight is wholly inside its shard's running range
    packed.foreach { case (_, toks, cum, shard) =>
      assert(cum / 100 == shard)
      assert(cum >= shard * 100 && cum < (shard + 1) * 100)
      assert(toks > 0)
    }
  }

  test("result is independent of input partitioning and numPartitions") {
    def run(df: org.apache.spark.sql.DataFrame, n: Int) =
      Sharding.packShards(df, "id", "toks", 100, n)
        .select("id", "shard_id").as[(Long, Long)].collect().toSet
    val a = run(docs, 3)
    assert(run(docs.repartition(17), 11) == a)
    assert(run(docs.coalesce(1), 1) == a)
  }

  test("default range width follows the input, never a hardcoded literal") {
    // an exchange-free 48-partition input (a materialized frame — the
    // scan-chain case) gets a 48-wide range exchange under the default;
    // the old literal 32 would silently bottleneck a wide sort
    val wide = docs.repartition(48).localCheckpoint()
    assert(Sharding.autoPartitions(wide, 0) == 48)
    assert(wide.repartitionByRange(Sharding.autoPartitions(wide, 0), $"id")
      .rdd.getNumPartitions == 48)
    // an input whose plan still CONTAINS an exchange answers with the
    // shuffle parallelism instead: reading its width via df.rdd would
    // execute every upstream shuffle once for the count and again for
    // the caller's materialization
    assert(Sharding.autoPartitions(docs.repartition(48), 0) ==
      spark.sessionState.conf.numShufflePartitions)
    // a narrow input still gets the session's shuffle parallelism
    assert(Sharding.autoPartitions(docs.coalesce(1), 0) ==
      spark.sessionState.conf.numShufflePartitions)
    // an explicit request always wins
    assert(Sharding.autoPartitions(wide, 7) == 7)
    // and the auto-width packing equals the explicit-width packing
    val auto = Sharding.packShards(wide, "id", "toks", 100)
      .select("id", "shard_id").as[(Long, Long)].collect().toSet
    assert(auto == Sharding.packShards(docs, "id", "toks", 100, 7)
      .select("id", "shard_id").as[(Long, Long)].collect().toSet)
  }

  test("packShardsBy equals the per-group single-window prefix sum") {
    val rnd = new scala.util.Random(7)
    val grouped = (1 to 600).map(i =>
      (s"src${rnd.nextInt(4)}", i.toLong, (rnd.nextInt(9) + 1).toLong))
      .toDF("src", "id", "toks")
    val got = Sharding.packShardsBy(grouped, Seq("src"), "id", "toks", 50)
      .select("src", "id", "cum_weight", "shard_id")
      .as[(String, Long, Long, Long)].collect().toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"src").orderBy($"id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val want = grouped
      .withColumn("cum_weight", sum($"toks").over(w) - $"toks")
      .withColumn("shard_id", expr("cum_weight div 50"))
      .select("src", "id", "cum_weight", "shard_id")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == want)
    // every group's prefix restarts at zero
    val firsts = got.groupBy(_._1).map { case (_, rows) =>
      rows.minBy(_._2)._3 }
    assert(firsts.forall(_ == 0L))
    // independent of input partitioning and range width
    val again = Sharding.packShardsBy(grouped.repartition(17), Seq("src"),
        "id", "toks", 50, numPartitions = 5)
      .select("src", "id", "cum_weight", "shard_id")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(again == want)
  }

  test("groupedPrefixSum fails fast on a high-cardinality group column") {
    // per-document groups would collect numPartitions × |groups| offset
    // rows to the driver — the guard must turn that latent OOM into an
    // actionable error (cap is conf-tunable so the test stays tiny)
    val perDoc = (1L to 200L).toDF("id").withColumn("w", lit(1L))
    spark.conf.set("spark.graft.sharding.maxOffsetRows", "50")
    try {
      val ex = intercept[IllegalArgumentException] {
        Sharding.groupedPrefixSum(perDoc, Seq("id"), Seq("id"), "w", 4)
      }
      assert(ex.getMessage.contains("maxOffsetRows") &&
        ex.getMessage.contains("Sketches.topK"))
    } finally spark.conf.unset("spark.graft.sharding.maxOffsetRows")
    // low-cardinality groups stay well under the default cap and work
    val grouped = perDoc.withColumn("g", ($"id" % 3).cast("string"))
    assert(Sharding.groupedPrefixSum(grouped, Seq("g"), Seq("id"), "w", 4)
      .count() == 200)
  }

  test("ntileByScore equals the rank formula, spreads sizes within 1, " +
      "and never uses a global window") {
    val scored = (1 to 503).map(i =>
      (i.toLong, ((i * 7919) % 97).toLong)).toDF("id", "score")
    val out = Sharding.ntileByScore(scored, "id", "score", k = 4,
      numPartitions = 7)
    val got = out.select("id", "bin").as[(Long, Long)].collect().toMap
    // driver reference: bin = (0-based (score, id)-rank) * k div n
    val ranked = (1 to 503).map(i =>
      (i.toLong, ((i * 7919) % 97).toLong)).sortBy { case (id, s) => (s, id) }
    val expected = ranked.zipWithIndex.map { case ((id, _), r) =>
      id -> (r.toLong * 4) / 503
    }.toMap
    assert(got == expected)
    // bin sizes within 1 of each other
    val sizes = got.values.groupBy(identity).map(_._2.size)
    assert(sizes.max - sizes.min <= 1 && sizes.size == 4)
    // invariant under input partitioning
    val reshuffled = Sharding.ntileByScore(scored.repartition(13),
        "id", "score", k = 4, numPartitions = 5)
      .select("id", "bin").as[(Long, Long)].collect().toMap
    assert(reshuffled == got)
    // plan: range-pid windows only — never the single-partition global
    // window Spark's ntile would force
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("windowspecdefinition(_graft_pid"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("rendezvous routing: deterministic, total, and minimally " +
       "disruptive under shard removal") {
    val keys = (1L to 400L).toDF("k")
    val ring = (0 to 4).map(i => s"n$i")
    val a = Sharding.rendezvousAssign(keys, "k", ring)
      .as[(Long, String)].collect().toMap
    // total and deterministic
    assert(a.size == 400 && a.values.forall(ring.contains))
    assert(Sharding.rendezvousAssign(keys, "k", ring)
      .as[(Long, String)].collect().toMap == a)
    // roughly balanced: each shard gets a nontrivial share
    val byShard = a.groupBy(_._2).view.mapValues(_.size)
    assert(ring.forall(s => byShard.getOrElse(s, 0) > 40))
    // THE rendezvous law: dropping n2 moves exactly n2's keys
    val b = Sharding.rendezvousAssign(keys, "k", ring.filterNot(_ == "n2"))
      .as[(Long, String)].collect().toMap
    keys.as[Long].collect().foreach { k =>
      if (a(k) == "n2") assert(b(k) != "n2")
      else assert(b(k) == a(k), s"key $k moved without cause")
    }
    // ...and adding it back restores every assignment (hash is stable)
    val c = Sharding.rendezvousAssign(keys, "k", ring)
      .as[(Long, String)].collect().toMap
    assert(c == a)
  }

  test("rendezvous hash matches the md5 hash60 reference chain") {
    // the assignment must be exactly argmax of the restatable hash
    val keys = (1L to 50L).toDF("k")
    val ring = Seq("a", "b", "c")
    val got = Sharding.rendezvousAssign(keys, "k", ring)
      .as[(Long, String)].collect().toMap
    val ref = keys.select((col("k") +:
        ring.map(s => conv(substring(md5(
          concat(col("k").cast("string"), lit("#" + s)).cast("binary")),
          1, 15), 16, 10).cast("long").as(s))): _*)
      .collect().map { r =>
        r.getLong(0) -> ring.zipWithIndex
          .map { case (s, i) => (r.getLong(i + 1), s) }.max._2
      }.toMap
    assert(got == ref)
  }
}
