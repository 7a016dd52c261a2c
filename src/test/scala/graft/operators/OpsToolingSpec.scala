package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

class OpsToolingSpec extends SparkSpec {
  import spark.implicits._

  test("summarizeLogs extracts duration and failure lines per file") {
    val dir = tempDir("graft_logs").toString
    Files.writeString(Paths.get(s"$dir/day1.log"),
      Seq("starting", "LOAD DURATION: 12.5s", "gl load failed: timeout",
        "LOAD DURATION: 3.1s", "done").mkString("\n"))
    val out = OpsTooling.summarizeLogs(spark, dir).collect().head
    assert(out.getAs[Long]("duration_lines") == 2L)
    assert(out.getAs[Long]("failure_lines") == 1L)
    assert(out.getAs[scala.collection.Seq[String]]("failures").toSeq ==
      Seq("gl load failed: timeout"))
  }

  test("longRunning flags items over the threshold, longest first") {
    val df = Seq("2024-01-01 00:00:00", "2024-01-01 01:40:00")
      .toDF("start_s").select(to_timestamp($"start_s").as("started"))
    val now = to_timestamp(lit("2024-01-01 02:00:00"))
    val out = OpsTooling.longRunning(df, "started", now)
      .select("elapsed_min").as[Double].collect().toSeq
    assert(out == Seq(120.0)) // the 20-minute one is under threshold
  }

  test("runScript executes statements split on GO/semicolons") {
    val out = OpsTooling.runScript(spark,
      """CREATE OR REPLACE TEMP VIEW graft_sql_runner AS SELECT 1 AS a
        |GO
        |SELECT a + 1 AS b FROM graft_sql_runner""".stripMargin)
    assert(out.get.as[Long].head() == 2L)
  }

  test("readCsv uses the supplied schema, no inference") {
    val dir = tempDir("graft_csv").toString
    Files.writeString(Paths.get(s"$dir/data.csv"), "id,amount\n1,2.5\nx,3.5")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("amount", DoubleType)))
    val out = OpsTooling.readCsv(spark, dir, schema)
    assert(out.schema == schema)
    // malformed 'x' under an explicit LongType → null, not a string column
    assert(out.orderBy($"amount").select("id").collect().map(r =>
      Option(r.get(0))).toSeq == Seq(Some(1L), None))
  }

  test("sqlTypes introspects a catalog table") {
    spark.range(3).withColumn("v", lit("x")).write.mode("overwrite")
      .saveAsTable("graft_types_tbl")
    val types = OpsTooling.sqlTypes(spark, "graft_types_tbl")
    assert(types == Map("id" -> "bigint", "v" -> "string"))
    spark.sql("DROP TABLE graft_types_tbl")
  }

  test("createFilter builds comparable predicates (curried)") {
    val df = Seq((1, "a"), (5, "b")).toDF("n", "s")
    assert(df.filter(OpsTooling.createFilter("n")(">")(3)).count() == 1)
    assert(df.filter(OpsTooling.createFilter("s")("=")("a")).count() == 1)
    intercept[IllegalArgumentException] {
      OpsTooling.createFilter("n")("like")(1)
    }
  }

  test("filterMetadata intersects schema with desired columns") {
    val schema = StructType(Seq(StructField("A", LongType),
      StructField("b", StringType), StructField("c", DoubleType)))
    assert(OpsTooling.filterMetadata(schema, Seq("a", "C")).fieldNames.toSeq ==
      Seq("A", "c"))
  }
}
