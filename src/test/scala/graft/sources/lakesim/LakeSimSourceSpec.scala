package graft.sources.lakesim

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** DSv2 lake-scan source: split planning, filter/column pushdown, paging. */
class LakeSimSourceSpec extends SparkSpec {
  import spark.implicits._

  /** Three data objects with disjoint amount ranges, like the reference's
    * split-query chunks. */
  lazy val lakeDir: String = {
    val dir = tempDir("lakesim").toString
    def write(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(s"$dir/$name"),
        lines.mkString("\n").getBytes("UTF-8"))
    write("obj1.ndjson", (1 to 10).map(i =>
      s"""{"id": $i, "region": "A", "amount": ${i * 10}}"""))
    write("obj2.ndjson", (11 to 20).map(i =>
      s"""{"id": $i, "region": "B", "amount": ${i * 10}}"""))
    write("obj3.ndjson", (21 to 30).map(i =>
      s"""{"id": $i, "region": "A", "amount": ${i * 10}}"""))
    write("index.json",
      Seq("""{"objects": [
        | {"file": "obj1.ndjson", "count": 10, "ranges": {"id": [1, 10], "amount": [10, 100]}},
        | {"file": "obj2.ndjson", "count": 10, "ranges": {"id": [11, 20], "amount": [110, 200]}},
        | {"file": "obj3.ndjson", "count": 10, "ranges": {"id": [21, 30], "amount": [210, 300]}}
        |]}""".stripMargin))
    dir
  }

  val schema = StructType(Seq(
    StructField("id", LongType), StructField("region", StringType),
    StructField("amount", DoubleType)))

  def lake = spark.read.format(classOf[LakeSimSource].getName)
    .schema(schema).option("path", lakeDir).load()

  test("full scan reads every record of every object") {
    assert(lake.count() == 30)
    assert(lake.agg(sum($"amount")).as[Double].head() == (1 to 30).map(_ * 10.0).sum)
  }

  test("filter pushdown returns exactly the matching records") {
    val out = lake.filter($"amount" > 250 && $"region" === "A")
      .select($"id").as[Long].collect().sorted.toSeq
    assert(out == Seq(26L, 27L, 28L, 29L, 30L))
  }

  test("split pruning drops objects whose range cannot match") {
    val entries = LakeIndex.load(lakeDir)
    assert(LakeIndex.prune(entries, Seq(GreaterThan("amount", 250.0)))
      .map(_.file) == Seq("obj3.ndjson"))
    assert(LakeIndex.prune(entries, Seq(EqualTo("id", 15.0)))
      .map(_.file) == Seq("obj2.ndjson"))
    // un-indexed field never prunes
    assert(LakeIndex.prune(entries, Seq(EqualTo("region", "A"))).size == 3)
    // plan reflects pruning: one partition for the one surviving object
    val pruned = lake.filter($"amount" > 250)
    assert(pruned.rdd.getNumPartitions == 1)
  }

  test("column pruning reaches the reader (scan description)") {
    val scanDesc = lake.select($"id").queryExecution.executedPlan.toString
    assert(scanDesc.contains("fields=[id]"))
  }

  test("COUNT(*)/MIN/MAX push to the index alone: right answers, zero " +
       "data I/O in the plan; strings, filters, and missing ranges all " +
       "fall back to a real scan") {
    val agg = lake.agg(count(lit(1)).as("n"), min($"id").as("lo"),
      max($"amount").as("hi"))
    val row = agg.as[(Long, Long, Double)].head()
    assert(row == ((30L, 1L, 300.0)))
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("aggPushed=[count(*), min(id), max(amount)]"), plan)
    // a STRING min cannot answer from numeric ranges → full scan
    val sPlan = lake.agg(min($"region")).queryExecution.executedPlan.toString
    assert(!sPlan.contains("aggPushed"), sPlan)
    assert(lake.agg(min($"region")).head().getString(0) == "A")
    // a filter makes ranges bounds, not answers → full scan
    val fPlan = lake.filter($"amount" > 100).agg(max($"amount"))
      .queryExecution.executedPlan.toString
    assert(!fPlan.contains("aggPushed"), fPlan)
    assert(lake.filter($"amount" > 100).agg(max($"amount"))
      .head().getDouble(0) == 300.0)
    // an object lacking the field's range → full scan, same answer
    val dir2 = tempDir("lakesim_aggfb").toString
    Files.write(Paths.get(s"$dir2/obj1.ndjson"),
      """{"id": 1, "region": "A", "amount": 10}""".getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir2/index.json"),
      """{"objects": [{"file": "obj1.ndjson", "count": 1,
        | "ranges": {"id": [1, 1]}}]}""".stripMargin.getBytes("UTF-8"))
    val lake2 = spark.read.format(classOf[LakeSimSource].getName)
      .schema(schema).option("path", dir2).load()
    val nPlan = lake2.agg(max($"amount")).queryExecution.executedPlan.toString
    assert(!nPlan.contains("aggPushed"), nPlan)
    assert(lake2.agg(max($"amount")).head().getDouble(0) == 10.0)
    // ...while the declared-range field still pushes
    assert(lake2.agg(max($"id")).queryExecution.executedPlan.toString
      .contains("aggPushed=[max(id)]"))
  }

  test("pageSize splits large objects into multiple partitions") {
    val paged = spark.read.format(classOf[LakeSimSource].getName)
      .schema(schema).option("path", lakeDir).option("pageSize", "4").load()
    // 10 records/object at 4/page → 3 pages × 3 objects = 9 partitions
    assert(paged.rdd.getNumPartitions == 9)
    assert(paged.count() == 30)
    // paging never duplicates or drops records
    assert(paged.select($"id").as[Long].collect().sorted.toSeq ==
      (1L to 30L).toSeq)
  }
}
