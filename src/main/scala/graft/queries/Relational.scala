package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Core relational query battery over the benchmark tables.
  *
  * These exercise the physical shapes the ETL engine is built from: pruned +
  * pushed-down scans, hash/broadcast joins, partial aggregation, window
  * ranking, set operations. Each query has a DuckDB oracle (SparkEntry
  * .oracleSql) and is written for deterministic hash-match:
  *   - money math is done in DECIMAL(18,2) (exact, order-insensitive sums)
  *     and cast to DOUBLE only at the output boundary;
  *   - every output is totally ordered by a unique key;
  *   - counts/ranks are cast to BIGINT to match DuckDB's integer widths.
  */
object Relational {

  private def dec(c: String): Column = col(c).cast(DecimalType(18, 2))
  private val one = lit(1).cast(DecimalType(18, 2))

  /** TPC-H Q1-style pricing summary: scan + partial agg + final agg.
    * At 100 TB this is a single shuffle on a tiny (flag,status) key space;
    * map-side combine does nearly all the work. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec("l_extendedprice") * (one - dec("l_discount"))).cast("double").as("sum_disc_price"),
        sum(dec("l_extendedprice") * (one - dec("l_discount")) * (one + dec("l_tax"))).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Filter + projection + top-k: predicate and column pruning must reach the
    * parquet scan (PushedFilters / 3-column ReadSchema). */
  def filterTopK(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1999-01-01").cast("timestamp") &&
              col("l_discount") > lit(0.06))
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
              col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)
  }

  /** TPC-H Q3-style: selective dim filter, two joins, agg, top-k.
    * customer/orders scale linearly with the data, so join selection is left
    * to AQE: at bench scale their post-filter stats are under the broadcast
    * threshold and AQE picks broadcast joins; at 100 TB the same plan
    * degrades gracefully to shuffle joins on the shared keys. A forced
    * broadcast() hint here would override those size checks and OOM the
    * driver at scale, so only genuinely constant-size dims ever get hints. */
  def joinTopK(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.load(s, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = Tables.load(s, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(dec("l_extendedprice") * (one - dec("l_discount"))).cast("double").as("revenue"))
      .select(col("o_orderkey"), col("revenue"), col("o_orderdate"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style star join down the region→nation→customer→orders→lineitem
    * chain. nation/region are genuinely constant-size (25/5 rows at every
    * scale factor) so they keep explicit broadcast hints; customer/orders
    * scale with the data, so their join strategy is AQE's call — broadcast
    * while their runtime stats fit, shuffle join beyond that. */
  def nationRevenue(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.load(s, dir, "region").filter(col("r_name") === "ASIA")
    val n = Tables.load(s, dir, "nation")
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
    val l = Tables.load(s, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(dec("l_extendedprice") * (one - dec("l_discount"))).cast("double").as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** Left-anti join — the reference's incremental set-difference shape
    * (`ids_from_lake − extracted_ids`, reference utilities/utilities.py:208-224). */
  def antiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-semi join (EXISTS): customers with at least one open order. */
  def semiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders").filter(col("o_orderstatus") === "O")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  /** Window ranking: top-3 orders per customer. One shuffle on o_custkey;
    * rank ties broken by orderkey for determinism. */
  def windowTopN(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.load(s, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Distinct aggregation per group (expand + two-phase agg in Spark). */
  def distinctAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
           count(lit(1)).as("n"))
      .orderBy(col("l_suppkey"))
  }

  /** ROLLUP grouping sets (subtotals + grand total). */
  def rollupAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
           sum(dec("l_quantity")).cast("double").as("qty"))
      .orderBy(asc_nulls_last("l_returnflag"), asc_nulls_last("l_linestatus"))
  }

  /** INTERSECT of key sets (hashed distinct set op). */
  def intersectKeys(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").select(col("c_nationkey").cast("long").as("k"))
    val sup = Tables.load(s, dir, "supplier").select(col("s_nationkey").cast("long").as("k"))
    c.intersect(sup).orderBy(col("k"))
  }

  /** EXCEPT: customers who never placed a >450k order. */
  def exceptKeys(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").select(col("c_custkey").as("k"))
    val o = Tables.load(s, dir, "orders").filter(col("o_totalprice") > lit(450000.0))
      .select(col("o_custkey").as("k"))
    c.except(o).orderBy(col("k"))
  }

  /** CUBE grouping sets over two dimensions. */
  def cubeAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
           sum(dec("l_extendedprice")).cast("double").as("price"))
      .orderBy(asc_nulls_last("l_returnflag"), asc_nulls_last("l_linestatus"))
  }

  /** Correlated EXISTS through the SQL surface (temp views + spark.sql) —
    * Catalyst decorrelates into a semi join. */
  def existsSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders_v")
    Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT o_orderkey, o_orderdate FROM orders_v o
        |WHERE EXISTS (SELECT 1 FROM lineitem_v l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 100 DAY)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Bloom-pruned fact⋈dim join: a bloom filter of the selective order keys
    * (built with the native BloomFilterAggregate, blob-sized independent of
    * row count) prefilters the lineitem scan BEFORE any exchange — the
    * manual runtime row filter for when the dim side is too big to
    * broadcast but its key set fits in bloom bits. The join clears the
    * bloom's false positives, so the result is exactly the plain join. */
  def bloomJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" &&
              col("o_totalprice") > lit(300000.0))
      .select(col("o_orderkey"))
    val l = Tables.load(s, dir, "lineitem")
    graft.operators.BloomPrune.join(l, "l_orderkey", o, "o_orderkey",
        expectedItems = 100000)
      .groupBy(col("o_orderkey"))
      .agg(sum(dec("l_extendedprice") * (one - dec("l_discount"))).cast("double").as("revenue"),
           count(lit(1)).as("n_items"))
      .orderBy(col("o_orderkey"))
  }

  /** Semi-structured extraction: JSON props parsed per event, aggregated
    * per event type. */
  def jsonExtract(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  val gates: Seq[Gate] = Seq(
    Gate("q01_pricing_summary", pricingSummary _,
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Gate("q02_filter_topk", filterTopK _,
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00' AND l_discount > 0.06
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin),
    Gate("q03_join_topk", joinTopK _,
      """SELECT o_orderkey,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00' AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),
    Gate("q04_nation_revenue", nationRevenue _,
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM region, nation, customer, orders, lineitem
        |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey AND c_nationkey = n_nationkey
        |  AND o_custkey = c_custkey AND l_orderkey = o_orderkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    Gate("q05_anti_join", antiJoin _,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin),
    Gate("q06_semi_join", semiJoin _,
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin),
    Gate("q07_window_topn", windowTopN _,
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),
    Gate("q08_distinct_agg", distinctAgg _,
      """SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS distinct_parts, COUNT(*) AS n
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),
    Gate("q09_rollup", rollupAgg _,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin),
    Gate("q10_intersect", intersectKeys _,
      """SELECT CAST(c_nationkey AS BIGINT) AS k FROM customer
        |INTERSECT SELECT CAST(s_nationkey AS BIGINT) AS k FROM supplier ORDER BY k""".stripMargin),
    Gate("q11_except", exceptKeys _,
      """SELECT c_custkey AS k FROM customer
        |EXCEPT SELECT o_custkey AS k FROM orders WHERE o_totalprice > 450000.0
        |ORDER BY k""".stripMargin),
    Gate("q39_cube", cubeAgg _,
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST""".stripMargin),
    Gate("q40_exists_subquery", existsSubquery _,
      """SELECT o_orderkey, o_orderdate FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 100 DAY)
        |ORDER BY o_orderkey""".stripMargin),
    Gate("q41_json_extract", jsonExtract _,
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        | MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // the bloom prefilter is pure pruning — the oracle is the PLAIN join
    Gate("q59_bloom_join", bloomJoin _,
      """SELECT o_orderkey,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 300000.0
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin),
  )
}
