package graft.sinks

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the POINT of [[Sinks.writeBucketed]]: two tables bucketed on
  * their join key with matching bucket counts join with NO Exchange on
  * either side — the write-once-shuffle-never contract that makes
  * bucketing worth its layout at 100 TB. */
class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  private val dbDir =
    tempDir("graft_bkt").toString

  private def withJoinConf[A](body: => A): A = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("co-bucketed tables sort-merge-join without any Exchange") {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bkt LOCATION '$dbDir'")
    val facts = (1L to 5000L).map(i => (i % 97, i)).toDF("k", "v")
    val dims = (0L until 97L).map(k => (k, s"dim_$k")).toDF("k", "name")
    Sinks.writeBucketed(facts, "graft_bkt.facts_b", 8, Seq("k"), Seq("k"))
    Sinks.writeBucketed(dims, "graft_bkt.dims_b", 8, Seq("k"), Seq("k"))
    withJoinConf {
      val j = spark.table("graft_bkt.facts_b")
        .join(spark.table("graft_bkt.dims_b"), "k")
      val got = j.groupBy($"name").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toMap
      // correctness: same as the un-bucketed join
      val want = facts.join(dims, "k").groupBy($"name")
        .agg(count(lit(1)).as("n")).as[(String, Long)].collect().toMap
      assert(got == want)
      // the join itself must be exchange-free on both sides
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"unexpected Exchange:\n$plan")
    }
  }

  test("a non-bucketed copy of the same join DOES exchange (the pin is meaningful)") {
    val facts = (1L to 5000L).map(i => (i % 97, i)).toDF("k", "v")
    val dims = (0L until 97L).map(k => (k, s"dim_$k")).toDF("k", "name")
    withJoinConf {
      val plan = facts.join(dims, "k")
        .queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"), s"expected Exchange:\n$plan")
    }
  }

  test("aggregation on the bucket key is also exchange-free") {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_bkt LOCATION '$dbDir'")
    val facts = (1L to 5000L).map(i => (i % 97, i)).toDF("k", "v")
    Sinks.writeBucketed(facts, "graft_bkt.facts_agg", 8, Seq("k"))
    val agg = spark.table("graft_bkt.facts_agg").groupBy($"k")
      .agg(sum($"v").as("s"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"unexpected shuffle for bucket-key agg:\n$plan")
    // and the numbers are right
    val got = agg.as[(Long, Long)].collect().toMap
    val want = facts.groupBy($"k").agg(sum($"v").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(got == want)
  }
}
