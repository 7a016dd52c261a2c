package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Catalog of the benchmark/test parquet tables.
  *
  * The reference avoids runtime schema inference by resolving dtypes from its
  * metadata catalog before every read (reference `lambda_function.py:114-137`,
  * `utilities/utilities.py:340-360`). For parquet the footer IS the schema, so
  * a plain `spark.read.parquet` is already inference-free; column pruning and
  * predicate pushdown reach the scan because the plan stays declarative.
  */
object Tables {
  /** Read one table from a scale-factor directory (e.g. /root/testdata/sf0.01).
    *
    * `events.ts` has been generated with two different parquet encodings
    * across data drops, and this loader normalizes BOTH to a UTC-instant
    * `TimestampType` so every downstream query sees one type:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read as a
    *    nanos-since-epoch long (`spark.sql.legacy.parquet.nanosAsLong`) and
    *    converted with integer division (a double division would lose
    *    precision above 2^53 ns);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): surfaces as
    *    `TIMESTAMP_NTZ`; cast to `TimestampType`, which interprets the naive
    *    value in the session time zone (UTC in Verify/tests — identical
    *    wall-clock to what DuckDB's oracle reads from the same file).
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
}
