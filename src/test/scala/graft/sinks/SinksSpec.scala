package graft.sinks

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

class SinksSpec extends SparkSpec {

  test("perColumnRca isolates the poison column behind a bulk-write failure") {
    import spark.implicits._
    val df = Seq(
      (1L, "10.5", "ok", "2023-01-01"),
      (2L, "oops", "ok", "2023-01-02"))
      .toDF("id", "amount", "status", "day")
    // simulated typed staging table: ANSI casts throw on executors for
    // values the declared column type rejects, like a JDBC sink would
    val colTypes = Map("id" -> "bigint", "amount" -> "double",
      "status" -> "string", "day" -> "date")
    val strictSink: org.apache.spark.sql.DataFrame => Unit = d =>
      d.select(d.columns.map(c => col(c).cast(colTypes(c))): _*)
        .write.format("noop").mode("overwrite").save()
    intercept[Exception] { strictSink(df) } // the bulk write fails...
    val rca = Sinks.perColumnRca(df, Seq("id"), strictSink)
    assert(rca.keySet == Set("amount")) // ...and RCA isolates the one offender
    assert(Sinks.perColumnRca(df.filter($"id" === 1), Seq("id"), strictSink).isEmpty)
  }
  import spark.implicits._

  test("writeVersioned partitions by schema version (and inc id when set)") {
    val dir = tempDir("graft_sink").toString
    val df = Seq((1L, "a", 1), (2L, "b", 1), (3L, "c", 2))
      .toDF("id", "v", "schema_version")
    Sinks.writeVersioned(df, s"$dir/bc", incId = Some(1705276800L))
    val back = spark.read.parquet(s"$dir/bc")
    assert(back.count() == 3)
    assert(back.select("schema_version").distinct().as[Int].collect().toSet == Set(1, 2))
    assert(back.select("inc_id").distinct().as[Long].collect().toSeq == Seq(1705276800L))
    // physical layout: version directories exist
    assert(new java.io.File(s"$dir/bc/schema_version=1").exists())
    // append mode: a second write adds rows
    Sinks.writeVersioned(df.limit(1), s"$dir/bc", incId = Some(1705363200L))
    assert(spark.read.parquet(s"$dir/bc").count() == 4)
  }

  test("writeMerged overwrites; single-file mode emits one part file") {
    val dir = tempDir("graft_sink").toString
    val df = spark.range(100).toDF("id").repartition(4)
    Sinks.writeMerged(df, s"$dir/merged", singleFile = true)
    val parts = new java.io.File(s"$dir/merged").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(parts == 1)
    assert(spark.read.parquet(s"$dir/merged").count() == 100)
  }

  test("csv interchange format round-trips through both sinks (K1/K2)") {
    val base = tempDir("graft_csv").toString
    val df = Seq((1L, "a", 2), (2L, "b", 2), (3L, "c", 3))
      .toDF("k", "v", "schema_version")
    Sinks.writeVersioned(df, s"$base/versioned", format = "csv")
    assert(new java.io.File(s"$base/versioned/schema_version=2").exists())
    val backV = spark.read.option("header", "true").csv(s"$base/versioned")
    assert(backV.count() == 3)
    Sinks.writeMerged(df, s"$base/merged", singleFile = true, format = "csv")
    val files = new java.io.File(s"$base/merged")
      .listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val back = spark.read.option("header", "true").csv(s"$base/merged")
      .select($"k".cast("long"), $"v").as[(Long, String)].collect().toSet
    assert(back == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("mssqlCompat: bools to True/False text, doubles to decimal(18,2), sentinels filled") {
    val df = Seq(
      (Some(true), Some(1.555), Some("x"), Some(Timestamp.valueOf("2023-01-01 00:00:00"))),
      (None, None, None, None)
    ).toDF("b", "d", "s", "t")
    val out = Sinks.mssqlCompat(df)
    assert(out.schema("b").dataType == StringType)
    assert(out.schema("d").dataType == DecimalType(18, 2))
    val rows = out.orderBy($"s".desc_nulls_last).collect()
    assert(rows(0).getString(0) == "True")
    assert(rows(0).getDecimal(1) == new java.math.BigDecimal("1.56"))
    assert(rows(1).getString(2) == "")
    assert(rows(1).getDecimal(1) == new java.math.BigDecimal("-99.00"))
    assert(rows(1).getTimestamp(3) == Timestamp.valueOf("1900-01-01 00:00:00"))
  }
}
