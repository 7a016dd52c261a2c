package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ops/monitoring and utility operators rounding out the SURVEY.md §2
  * inventory: log summarization (A6), the SQL script runner (D6), the
  * schema'd CSV source (S9), catalog introspection (S12), the curried
  * predicate builder (P3), and metadata column filtering (P2).
  */
object OpsTooling {

  /** A6: scan a directory of log text for load-duration and failure lines
    * (reference `utilities/helpers/log_scanner.py:44-79`,
    * `utilities/logparser.py:28-62`) and summarize per file. */
  def summarizeLogs(spark: SparkSession, logsPath: String,
                    durationMarker: String = "LOAD DURATION:",
                    failureMarker: String = "load failed"): DataFrame = {
    val lines = spark.read.text(logsPath)
      .withColumn("file", input_file_name())
    lines
      .withColumn("is_duration", col("value").contains(durationMarker))
      .withColumn("is_failure", lower(col("value")).contains(failureMarker))
      .filter(col("is_duration") || col("is_failure"))
      .groupBy(col("file"))
      .agg(
        sum(when(col("is_duration"), 1L).otherwise(0L)).as("duration_lines"),
        sum(when(col("is_failure"), 1L).otherwise(0L)).as("failure_lines"),
        collect_list(when(col("is_failure"), col("value"))).as("failures"))
  }

  /** A5: long-running query report (reference `db/activequeries.py:16-30,
    * 61-73`): elapsed minutes per active item, filtered above a threshold,
    * longest first. */
  def longRunning(df: DataFrame, startCol: String, nowCol: Column,
                  thresholdMinutes: Int = 25): DataFrame =
    df.withColumn("elapsed_min",
        (unix_timestamp(nowCol) - unix_timestamp(col(startCol))) / 60.0)
      .filter(col("elapsed_min") > thresholdMinutes)
      .orderBy(col("elapsed_min").desc)

  /** D6: run a multi-statement SQL script (reference
    * `utilities/helpers/sql_runner.py:38-77` splits on GO); statements split
    * on `GO` lines or semicolons, executed in order, last result returned. */
  def runScript(spark: SparkSession, script: String): Option[DataFrame] = {
    val statements = script
      .split("(?im)^\\s*GO\\s*$|;")
      .map(_.trim).filter(_.nonEmpty)
    statements.foldLeft(Option.empty[DataFrame]) { (_, stmt) =>
      Some(spark.sql(stmt))
    }
  }

  /** S9: CSV read with an externally supplied schema — never inference
    * (reference `lambda_function.py:114-165` builds dtypes from the catalog
    * before reading). */
  def readCsv(spark: SparkSession, path: String,
              schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** S12: staging-schema introspection — column → sink type map (reference
    * `get_sql_types` via `sp_columns`). */
  def sqlTypes(spark: SparkSession, table: String): Map[String, String] =
    spark.table(table).schema.fields
      .map(f => f.name -> f.dataType.simpleString).toMap

  /** P3: the reference's curried predicate builder
    * (`create_filter(prop)(op)(value)`, utilities/utilities.py:226-238) as
    * a Column factory; pushdown happens automatically once the Column lands
    * in a filter over a pushdown-capable source. */
  def createFilter(prop: String)(op: String)(value: Any): Column = op match {
    case "="  | "==" => col(prop) === lit(value)
    case "!=" | "<>" => col(prop) =!= lit(value)
    case ">"         => col(prop) > lit(value)
    case ">="        => col(prop) >= lit(value)
    case "<"         => col(prop) < lit(value)
    case "<="        => col(prop) <= lit(value)
    case other => throw new IllegalArgumentException(s"unsupported op: $other")
  }

  /** P2: metadata column filter — intersect a schema with desired columns
    * (reference `filter_metadata`, utilities/utilities.py:261-283). */
  def filterMetadata(schema: StructType, desired: Seq[String]): StructType = {
    val want = desired.map(_.toLowerCase).toSet
    StructType(schema.fields.filter(f => want.contains(f.name.toLowerCase)))
  }
}
