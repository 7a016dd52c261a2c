package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Cleanse

/** Sink operators (SURVEY.md §2.2).
  *
  * The reference routes record batches to per-schema-version CSV files
  * (K1, `utilities/utilities.py:609-637`), writes a merged all-schemas file
  * (K2, `:406-424`), and loads staging tables with chunked inserts /
  * truncate-then-load (K3/K4, `lambda_function.py:205-243`). Spark
  * restatement: partitioned parquet appends, an optional single-file merge,
  * and JDBC-compatible value conversion — partitioning replaces the
  * reference's hand-rolled file splitting (C2/C3) wholesale.
  */
object Sinks {

  /** K1: schema-versioned append — one directory per schema version (and
    * per incremental batch when `incId` is set), the layout the reference
    * builds by hand with versioned filenames + inc-id folders. */
  def writeVersioned(df: DataFrame, path: String,
                     incId: Option[Long] = None,
                     format: String = "parquet"): Unit = {
    val withInc = incId.map(id => df.withColumn("inc_id", lit(id))).getOrElse(df)
    val parts = "schema_version" +: incId.map(_ => "inc_id").toSeq
    val w = withInc.write.partitionBy(parts: _*).mode(SaveMode.Append)
      .format(format)
    (if (format == "csv") w.option("header", "true") else w).save(path)
  }

  /** K2: merged sink. The reference emits ONE merged CSV per business class;
    * at scale a single file is a driver bottleneck, so single-file output is
    * opt-in and the default keeps the write parallel. `format = "csv"`
    * reproduces the reference's interchange files exactly (headered). */
  def writeMerged(df: DataFrame, path: String,
                  singleFile: Boolean = false,
                  format: String = "parquet"): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    val w = out.write.mode(SaveMode.Overwrite).format(format)
    (if (format == "csv") w.option("header", "true") else w).save(path)
  }

  /** K4: truncate-then-load semantics = overwrite mode on a managed table. */
  def replaceTable(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).saveAsTable(table)

  /** Co-located bucketed table write: rows are hash-distributed into
    * `numBuckets` files by `bucketCols` (and sorted within each bucket by
    * `sortCols`), so every FUTURE join or aggregation on the bucket key
    * reads shuffle-free — at 100 TB the repeated fact⋈dim join on a
    * shared key is usually the dominant exchange, and bucketing pays that
    * shuffle ONCE at write time instead of on every query. Two tables
    * bucketed on their join key with the same numBuckets sort-merge-join
    * with no Exchange on either side (pinned by BucketedJoinSpec);
    * mismatched-but-divisible bucket counts still avoid the shuffle when
    * `spark.sql.bucketing.coalesceBucketsInJoin.enabled` is on.
    *
    * Sizing: pick numBuckets so one bucket ≈ one task's worth of data at
    * the TARGET scale (buckets are the parallelism ceiling for bucket-wise
    * reads). Spark's native bucketing is hash-based and Hive-incompatible;
    * the table must be a catalog table (`saveAsTable`), not a bare path. */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
                    bucketCols: Seq[String],
                    sortCols: Seq[String] = Seq.empty): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed: need at least one bucket column")
    require(numBuckets >= 1, s"writeBucketed: numBuckets must be >= 1, got $numBuckets")
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    val ws = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
             else w
    ws.saveAsTable(table)
  }

  /** K3 proper: chunked JDBC batch insert (reference
    * `lambda_function.py:211-243` + `db/database.py:30-41`). Spark's JDBC
    * sink batches prepared statements per `batchSize` — the
    * `fast_executemany` semantics — and writes partition-parallel, so the
    * chunking the reference hand-rolls (C1) is the `batchsize` option.
    * K4: `truncate = true` with `SaveMode.Overwrite` issues TRUNCATE/DELETE
    * instead of DROP+CREATE, preserving the table's DDL exactly like the
    * reference's `truncate table` (`lambda_function.py:205-209`).
    * Exercised live against embedded Derby in DerbyJdbcSpec. */
  def jdbcLoad(df: DataFrame, url: String, table: String,
               mode: SaveMode = SaveMode.Append, batchSize: Int = 1000,
               truncate: Boolean = true,
               props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode(mode)
      .option("truncate", truncate.toString)
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, props)

  /** S12: staging-schema introspection over a live JDBC connection — the
    * reference's `exec sp_columns {table}` (`lambda_function.py:62-76`)
    * restated as the JDBC metadata read (no rows are fetched; the dialect
    * resolves the remote DDL into a StructType). */
  def jdbcIntrospect(spark: org.apache.spark.sql.SparkSession, url: String,
                     table: String,
                     props: java.util.Properties = new java.util.Properties())
      : StructType =
    spark.read.jdbc(url, table, props).schema

  /** Schema DRIFT reconciliation into a live JDBC table — the
    * reference's defining move (metadata-driven DDL + multi-version
    * staging): introspect the standing table, `ALTER TABLE ... ADD
    * COLUMN` every field the incoming frame carries that the table
    * lacks (nullable — standing rows read back NULL for it), then
    * append with the frame's columns aligned to the evolved table.
    * Returns the added column names. Column REMOVAL is never DDL'd
    * (the warehouse keeps history); a missing incoming column simply
    * loads NULL. Type changes are out of scope and surface as the
    * driver's own JDBC error. */
  def jdbcEvolve(df: DataFrame, url: String, table: String,
                 batchSize: Int = 1000,
                 props: java.util.Properties = new java.util.Properties())
      : Seq[String] = {
    val existing = jdbcIntrospect(df.sparkSession, url, table)
    val have = existing.fieldNames.map(_.toLowerCase).toSet
    val missing = df.schema.fields.filterNot(f =>
      have.contains(f.name.toLowerCase))
    if (missing.nonEmpty) {
      // the DDL is string-built: refuse any identifier that would need
      // quoting/escaping rather than risk broken or injected statements
      val ident = "[A-Za-z_][A-Za-z0-9_]*".r
      def checked(name: String, what: String): String = {
        require(ident.matches(name),
          s"jdbcEvolve: $what '$name' is not a plain SQL identifier " +
            "([A-Za-z_][A-Za-z0-9_]*) - rename it before evolving")
        name
      }
      checked(table, "table name")
      val conn = java.sql.DriverManager.getConnection(url, props)
      try missing.foreach { f =>
        val ddl = graft.ddl.TableManager.jdbcType(f.dataType)
        val colName = checked(f.name, "drifted column").toUpperCase
        val st = conn.createStatement()
        try st.executeUpdate(
          s"""ALTER TABLE $table ADD COLUMN "$colName" $ddl""")
        finally st.close()
      } finally conn.close()
    }
    // align: every evolved-table column, NULL where the frame lacks it
    val evolved = jdbcIntrospect(df.sparkSession, url, table)
    val dfCols = df.columns.map(c => c.toLowerCase -> c).toMap
    val aligned = df.select(evolved.fields.toIndexedSeq.map { f =>
      dfCols.get(f.name.toLowerCase)
        .map(col(_).as(f.name))
        .getOrElse(lit(null).cast(f.dataType).as(f.name))
    }: _*)
    jdbcLoad(aligned, url, table, mode = SaveMode.Append,
      batchSize = batchSize, truncate = false, props = props)
    missing.map(_.name).toSeq
  }

  /** K5: per-column insert root-cause analysis (reference
    * `lambda_function.py:245-276`): when a bulk load fails, retry the write
    * with each non-key column in isolation (alongside the keys) to identify
    * which columns poison the sink, and return them with their errors.
    * A driver loop over k columns by design — this is a failure diagnostic,
    * not a data path; each probe write is still fully distributed. */
  def perColumnRca(df: DataFrame, keys: Seq[String],
                   writeFn: DataFrame => Unit): Map[String, String] =
    df.columns.filterNot(keys.contains).flatMap { c =>
      try {
        writeFn(df.select((keys :+ c).map(df.col): _*))
        None
      } catch {
        case e: Exception =>
          Some(c -> Option(e.getMessage).getOrElse(e.toString).take(500))
      }
    }.toMap

  /** MSSQL-compatible value conversion, reproducing the reference's sink
    * type system (`metadata/types.py:88-102` + `lambda_function.py:184-199`):
    * booleans become 'True'/'False' text (varchar(5) semantics), doubles
    * become DECIMAL(18,2), and sentinel null-fills apply. In-flight frames
    * keep native types; this runs only at a JDBC-style sink boundary. */
  def mssqlCompat(df: DataFrame): DataFrame = {
    // 1. booleans → 'True'/'False' text (so the string sentinel '' applies)
    val boolsAsText = df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case BooleanType => acc.withColumn(f.name,
          when(col(f.name), "True").when(!col(f.name), "False"))
        case _ => acc
      }
    }
    // 2. sentinel fills on native numeric/string/timestamp types
    val filled = Cleanse.sentinelFill(boolsAsText)
    // 3. doubles → DECIMAL(18,2) at the very end (-99.0 → -99.00)
    filled.schema.fields.foldLeft(filled) { (acc, f) =>
      f.dataType match {
        case DoubleType | FloatType => acc.withColumn(f.name,
          col(f.name).cast(DecimalType(18, 2)))
        case _ => acc
      }
    }
  }
}
