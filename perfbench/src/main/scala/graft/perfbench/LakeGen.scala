package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.jobs.{EngineConfig, TableConfig}

/** Seeded subject-area generator for the ETL workloads.
  *
  * Six business classes are cut from the TPC-H-like parquet tables. Every
  * value is rendered as a JSON string (explicit `null` included), so the
  * pipeline's silver values are exactly the strings built here and the
  * expected silver can be computed without going through JSON.
  *
  * Drift: each record takes one of 8 keysets, dealt round-robin in a seeded
  * order of the keys — the base columns, the last column dropped, the first column renamed
  * to `legacy_<name>`, a dotted `load.batch` column added (the pipeline
  * cleans it to `load_batch`), their pairwise combinations, and all three
  * plus a `src_note` column. Stable: every record has the base keyset.
  *
  * Load split, by a second seeded hash of the key: the full load lands 80%
  * of the keys; each incremental load lands 10% new keys and re-delivers a
  * disjoint 20% of the already loaded keys, byte-identical to their first
  * delivery. After the three loads every key has landed once as new.
  */
object LakeGen {

  final case class ClassSpec(table: String, key: String, keyExpr: Column) {
    def businessClass: String = s"Bench_$table"
    def tableConfig: TableConfig = TableConfig(
      businessClassName = businessClass,
      stagingTableName = s"bench_dl_$table",
      replicationSetName = "BenchRepSet",
      incremental = true,
      keyColumn = Some(key))
    def silverTable: String = tableConfig.warehouseTableName
  }

  val classes: Seq[ClassSpec] = Seq(
    // (l_orderkey, l_linenumber) repeats in the test tables: number the rows
    ClassSpec("lineitem", "l_id", row_number().over(Window.orderBy(
      Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate").map(col): _*))),
    ClassSpec("orders", "o_orderkey", col("o_orderkey")),
    ClassSpec("events", "event_id", col("event_id")),
    ClassSpec("part", "p_partkey", col("p_partkey")),
    ClassSpec("customer", "c_custkey", col("c_custkey")),
    ClassSpec("supplier", "s_suppkey", col("s_suppkey")))

  val subjectArea = "bench"

  val config: EngineConfig = EngineConfig(
    classes.map(c => c.table -> c.tableConfig).toMap,
    Map(subjectArea -> classes.map(_.table)))

  val loads: Seq[String] = Seq("full", "incr1", "incr2")

  val Sentinels: Seq[String] = Seq("", "NULL", "N/A", "-")
  val Variants = 8

  private def h(seed: Long, salt: Int, key: Column): Column =
    pmod(xxhash64(lit(seed), lit(salt), key), lit(1000L))

  /** The string-valued source rows of one class with their keyset variant,
    * sentinels and explicit nulls applied: one column per name any variant
    * uses, null where the record's variant lacks it, plus `_variant`,
    * `_bucket` (load split) and `_order` (lake line order). */
  def landing(spark: SparkSession, sourceDir: String, spec: ClassSpec,
              seed: Long, drift: Boolean): (DataFrame, Seq[Seq[String]]) = {
    val src = graft.sources.Tables.load(spark, sourceDir, spec.table)
    val data = src.columns.toSeq
    val asStrings = src.select(spec.keyExpr.cast("string").as(spec.key) +:
      data.filterNot(_ == spec.key).map { c =>
        src.schema(c).dataType match {
          case org.apache.spark.sql.types.TimestampType =>
            date_format(col(c), "yyyy-MM-dd HH:mm:ss").as(c)
          case _ => col(c).cast("string").as(c)
        }
      }: _*)
    val cols = asStrings.columns.toSeq.tail
    val (first, last, sentinelCol, nullCol) =
      (cols.head, cols.last, cols(1 % cols.size), cols(2 % cols.size))
    val renamed = s"legacy_$first"
    val k = col(spec.key)
    // keyset per variant: bit 0 drops `last`, bit 1 renames `first`,
    // bit 2 adds `load.batch`; variant 7 also adds `src_note`
    def keyset(v: Int): Seq[String] = {
      val base = spec.key +: cols
        .filterNot(c => (v & 1) != 0 && c == last)
        .map(c => if ((v & 2) != 0 && c == first) renamed else c)
      base ++ (if ((v & 4) != 0) Seq("load.batch") else Nil) ++
        (if (v == 7) Seq("src_note") else Nil)
    }
    val variants = if (drift) 0 until Variants else Seq(0)
    // dealt round-robin in a seeded order, so every variant occurs
    val variant =
      if (drift) pmod(row_number().over(Window.orderBy(xxhash64(lit(seed), lit(1), k), k)),
        lit(Variants)).cast("int")
      else lit(0)
    val sentinel = element_at(
      array(Sentinels.map(lit): _*), (h(seed, 3, k) % Sentinels.size).cast("int") + 1)
    val withValues = asStrings
      .withColumn("_variant", variant)
      .withColumn(sentinelCol,
        when(h(seed, 2, k) < 100, sentinel).otherwise(col(sentinelCol)))
      .withColumn(nullCol,
        when(h(seed, 4, k) < 100, lit(null).cast("string")).otherwise(col(nullCol)))
      .withColumn("_bucket", h(seed, 5, k))
      .withColumn("_redeliver", h(seed, 6, k) % 4)
      .withColumn("_order", xxhash64(lit(seed), lit(7), k))
    val universe = variants.flatMap(keyset).distinct
    def valueOf(name: String): Column = name match {
      case n if n == renamed => col(first)
      case "load.batch" => concat(lit("b"), (h(seed, 8, k) % 97).cast("string"))
      case "src_note" => when(h(seed, 9, k) < 500, lit("NULL")).otherwise(lit("migrated"))
      case n => col(n)
    }
    val projected = withValues.select(
      universe.map { n =>
        val present = variants.filter(v => keyset(v).contains(n))
        (if (present.size == variants.size) valueOf(n)
         else when(col("_variant").isin(present: _*), valueOf(n))).as(n)
      } ++ Seq("_variant", "_bucket", "_redeliver", "_order").map(col): _*)
    (projected, variants.map(keyset))
  }

  /** Rows each load lands (`_bucket` is a uniform draw in [0, 1000)). */
  def loadFilter(load: String): Column = load match {
    case "full" => col("_bucket") < 800
    case "incr1" => col("_bucket").between(800, 899) ||
      (col("_bucket") < 800 && col("_redeliver") === 0)
    case "incr2" => col("_bucket") >= 900 ||
      (col("_bucket") < 800 && col("_redeliver") === 1)
  }

  /** One NDJSON line per landed row, keys in the variant's keyset order. */
  def ndjson(landed: DataFrame, keysets: Seq[Seq[String]]): Column =
    keysets.zipWithIndex.foldLeft(lit(null).cast("string")) { case (acc, (ks, v)) =>
      when(col("_variant") === v,
        to_json(struct(ks.map(c => col(s"`$c`").as(c)): _*),
          Map("ignoreNullFields" -> "false")))
        .otherwise(acc)
    }

  /** Write the three lakes under `root/{full,incr1,incr2}/{bc}.ndjson`.
    * Each lake file is one file with a fixed name and seeded line order, so
    * the same seed gives a byte-identical lake. */
  def write(spark: SparkSession, sourceDir: String, root: String,
            seed: Long, drift: Boolean): Unit = {
    val inLoad = loads.zipWithIndex.map { case (l, i) =>
      when(loadFilter(l), lit(1 << i)).otherwise(lit(0)) }.reduce(_ + _)
    val lines = classes.map { spec =>
      val (landed, keysets) = landing(spark, sourceDir, spec, seed, drift)
      landed.select(lit(spec.businessClass).as("bc"), ndjson(landed, keysets).as("line"),
        inLoad.as("loads"), col("_order"), col(spec.key).as("key"))
    }.reduce(_ union _)
      .orderBy("bc", "_order", "key")
      .collect()
    val writers = mutable.Map.empty[(String, String), java.io.BufferedWriter]
    try lines.foreach { r =>
      loads.zipWithIndex.filter(l => (r.getInt(2) & (1 << l._2)) != 0).foreach { case (load, _) =>
        val w = writers.getOrElseUpdate((r.getString(0), load), {
          val dest = Path.of(s"$root/$load/${r.getString(0)}.ndjson")
          Files.createDirectories(dest.getParent)
          Files.newBufferedWriter(dest)
        })
        w.write(r.getString(1))
        w.write('\n')
      }
    } finally writers.values.foreach(_.close())
  }

  /** Expected silver after the three loads: the distinct landed rows of a
    * [[landing]] frame, in the pipeline's cleaned column names. */
  def expectedSilver(landed: DataFrame): DataFrame = {
    val data = landed.columns.filterNot(_.startsWith("_")).toSeq
    loads.map(l => landed.where(loadFilter(l)))
      .map(_.select(data.map(c => col(s"`$c`").as(c.replace(".", "_"))): _*))
      .reduce(_ unionByName _).distinct()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally s.close()
    }
}
