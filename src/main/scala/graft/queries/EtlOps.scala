package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Cleanse, Incremental, UnionBySchema, Upsert, Validation}
import graft.schema.SchemaRegistry
import graft.sources.Tables

/** ETL-semantics query battery: each query drives one reference operator
  * (SURVEY.md §2) through the library implementation, over the benchmark
  * tables, with a DuckDB oracle that states the *expected result* (not the
  * mechanics). Null/sentinel/guard cases are injected deterministically from
  * key columns so both engines compute identical inputs.
  */
object EtlOps {

  /** U1-U3: two drifting schema versions of orders reconciled by name with
    * null padding and sorted output columns. */
  def unionByNameQ(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val v1 = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val v2 = o.filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
              col("o_totalprice"))
    UnionBySchema(Seq(v1, v2)).orderBy(col("o_orderkey"))
  }

  /** J1: source-wins upsert of "staging" updates into the orders "warehouse"
    * (the stored-proc MERGE shape). */
  def upsertQ(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val target = o.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val source = o.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), lit("F").as("o_orderstatus"),
        (col("o_totalprice").cast(DecimalType(18, 2)) *
          lit(1.1).cast(DecimalType(18, 2))).cast("double").as("o_totalprice"))
    Upsert(target, source, Seq("o_orderkey")).orderBy(col("o_orderkey"))
  }

  /** P14: sentinel null-fill across int/double/string/timestamp dtypes.
    * Nulls are injected deterministically by event_id. */
  def sentinelFillQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val withNulls = e.select(
      col("event_id"),
      when(col("event_id") % 11 === 0, lit(null))
        .otherwise(date_trunc("second", col("ts"))).as("ts"),
      when(col("event_id") % 3 === 0, lit(null))
        .otherwise(col("user_id")).as("user_id"),
      when(col("event_id") % 5 === 0, lit(null))
        .otherwise(col("event_type")).as("event_type"),
      when(col("event_id") % 7 === 0, lit(null))
        .otherwise(col("value")).as("value"))
    Cleanse.sentinelFill(withNulls).orderBy(col("event_id"))
  }

  /** P10: amount guard-cast — date strings in an amount column → 0.00. */
  def guardAmountQ(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
    val raw = when(col("l_linenumber") % 3 === 0,
        date_format(col("l_shipdate"), "yyyy-MM-dd"))
      .otherwise(col("l_quantity").cast("string"))
    l.select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
             Cleanse.guardAmount(raw).as("amount"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** P11: GUID validation — malformed ids → 'N/A'. */
  def guardUuidQ(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val h = md5(col("c_custkey").cast("string"))
    val uuid = concat_ws("-",
      substring(h, 1, 8), substring(h, 9, 4), substring(h, 13, 4),
      substring(h, 17, 4), substring(h, 21, 12))
    val raw = when(col("c_custkey") % 4 === 0, uuid).otherwise(col("c_name"))
    c.select(col("c_custkey"), Cleanse.guardUuid(raw).as("guarded"))
      .orderBy(col("c_custkey"))
  }

  /** P9: key=value list extraction with pure built-ins. */
  def kvExtractQ(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val kv = concat(lit("A=1,IDBudgetFundType="), col("o_orderpriority"), lit(",Z=9"))
    o.select(col("o_orderkey"), Cleanse.kvExtract(kv, "IDBudgetFundType").as("fund_type"))
      .orderBy(col("o_orderkey"))
  }

  /** P13: two-phase datetime coercion — unparseable strings → null. */
  def dateCoerceQ(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
    val raw = when(col("l_linenumber") % 4 === 0, lit("not-a-date"))
      .otherwise(date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))
    l.select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
             Cleanse.coerceDatetime(raw).as("coerced"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** I4: daily watermark ids over the events stream (UTC−6, 05:00 cutoff). */
  def watermarkQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    e.select(Incremental.incrementalId(col("ts")).as("inc_id"), col("event_id"))
      .groupBy(col("inc_id"))
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_event"),
           max(col("event_id")).as("max_event"))
      .orderBy(col("inc_id"))
  }

  /** A4: schema-drift detection — distinct record keysets get version ids
    * from the SchemaRegistry (driver-minted, broadcast-assigned). */
  def schemaDriftQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val enriched = e.withColumn("rec",
      when(col("event_id") % 3 === 0, col("props"))
        .when(col("event_id") % 3 === 1, lit("""{"k": 1, "extra": "x"}"""))
        .otherwise(lit("""{"b": 2, "a": 1}""")))
    val registry = SchemaRegistry.seed
      .observeSorted(SchemaRegistry.discoverKeysets(enriched, "rec"))
    // materialize the keyset once; version assignment and grouping reuse it
    val withKeyset = enriched.withColumn("keyset",
      SchemaRegistry.keysetExpr(col("rec")))
    SchemaRegistry.assignVersionsByKeyset(withKeyset, "keyset", registry)
      .groupBy(col("schema_version").cast("long").as("schema_version"),
               col("keyset"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("keyset"))
  }

  /** A3/J3: per-key count reconciliation (actual lineitem rows vs the
    * max linenumber "declared" count), full-outer with zero-fill. */
  def countReconcileQ(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
    val actual = l.groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("actual_count"))
    val declared = l.groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(max(col("l_linenumber")).cast("long").as("declared_count"))
    Validation.reconcileCounts(actual, declared, "o_orderkey")
      .orderBy(col("o_orderkey"))
  }

  /** §7.3: the upsert driven through the actual `MERGE INTO` SQL statement —
    * parsed by Spark's parser, rewritten by the GraftMerge rule logic, and
    * executed against temp views. Same expected result as q13. */
  def mergeSqlQ(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    o.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .createOrReplaceTempView("graft_q45_warehouse")
    o.filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"), lit("F").as("o_orderstatus"),
        (col("o_totalprice").cast(DecimalType(18, 2)) *
          lit(1.1).cast(DecimalType(18, 2))).cast("double").as("o_totalprice"))
      .createOrReplaceTempView("graft_q45_staging")
    val parsed = s.sessionState.sqlParser.parsePlan(
      """MERGE INTO graft_q45_warehouse USING graft_q45_staging
        |ON graft_q45_warehouse.o_orderkey = graft_q45_staging.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    graft.plans.GraftMerge
      .convert(parsed.asInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable])
      .asInstanceOf[graft.plans.GraftMergeCommand]
      .run(s)
    s.table("graft_q45_warehouse").orderBy(col("o_orderkey"))
  }

  /** Skew-salted fact-fact join (§7.4): lineitem joined to orders on the
    * order key with an explicit 16-way salt — result rows equal the plain
    * inner join exactly, which is what the oracle states. */
  def skewJoinQ(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_quantity"))
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
    graft.operators.Skew.saltedJoin(l, o, Seq("l_orderkey"),
        distCol = "l_linenumber")
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** As-of join over the events stream: even-id events are the probe side,
    * odd-id events (deduped to one quote per user/second) are the
    * reference side; each probe picks up the latest quote at or before its
    * timestamp. DuckDB states the same semantics natively with ASOF JOIN. */
  def asofJoinQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("ts", date_trunc("second", col("ts")))
    val probes = e.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("ts"))
    val quotes = e.filter(col("event_id") % 2 === 1)
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("quote"))
    graft.operators.AsofJoin(probes, quotes, Seq("user_id"), "ts", Seq("quote"))
      .orderBy(col("event_id"))
  }

  /** Bucketed range join: odd-id events open 2-hour windows, even-id
    * events are points; each point attaches to every same-user window
    * containing it. */
  def rangeJoinQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("ts", date_trunc("second", col("ts")))
    val intervals = e.filter(col("event_id") % 2 === 1)
      .select(col("event_id").as("iv_id"), col("user_id"),
        col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
    val points = e.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("user_id"), col("ts"))
    graft.operators.RangeJoin.pointInInterval(points, intervals,
        Seq("user_id"), "ts", "start_ts", "end_ts", bucketSeconds = 7200L)
      .select(col("iv_id"), col("event_id"), col("user_id"), col("ts"))
      .orderBy(col("iv_id"), col("event_id"))
  }

  /** Bucketed interval-overlap join: event_id%3==1 events open 2-hour
    * windows, %3==2 events open 45-minute windows; every same-user
    * overlapping pair, exactly once. */
  def intervalOverlapQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("ts", date_trunc("second", col("ts")))
    val a = e.filter(col("event_id") % 3 === 1)
      .select(col("event_id").as("a_id"), col("user_id"),
        col("ts").as("a_start"),
        (col("ts") + expr("INTERVAL 2 HOURS")).as("a_end"))
    val b = e.filter(col("event_id") % 3 === 2)
      .select(col("event_id").as("b_id"), col("user_id"),
        col("ts").as("b_start"),
        (col("ts") + expr("INTERVAL 45 MINUTES")).as("b_end"))
    graft.operators.RangeJoin.intervalOverlap(a, b, Seq("user_id"),
        "a_start", "a_end", "b_start", "b_end", bucketSeconds = 3600L)
      .select(col("a_id"), col("b_id"), col("user_id"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Fixed-point PageRank under a DIRECT gate (q201): the part↔supplier
    * co-occurrence graph (distinct lineitem pairs, symmetrized so mass
    * circulates; node ids namespaced 2p / 2s+1), 5 power iterations
    * through [[graft.operators.PageRank.pagerank]], FULL rank table out
    * — unlike q86's TextRank top-k, every node's exact integer rank is
    * engine-checked against the oracle's unrolled iterations. */
  def graphRankQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val pairs = li.select((col("l_partkey") * 2).as("pn"),
        (col("l_suppkey") * 2 + 1).as("sn")).distinct()
    val edges = pairs.select(col("pn").as("src"), col("sn").as("dst"))
      .unionByName(pairs.select(col("sn").as("src"), col("pn").as("dst")))
    graft.operators.PageRank.pagerank(edges, "src", "dst", iters = 5)
      .orderBy(col("node"))
  }

  /** q201's oracle: the 5 fixed-point iterations unrolled — per round a
    * share/contribution CTE (integer `//` per out-degree, exact BIGINT
    * sum) and the damped update `150000 + (17 * s) // 20`; all values
    * non-negative so floor division ≡ Spark's truncating `div`. */
  private def graphRankOracle(iters: Int): String = {
    val head =
      """WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS pn,
        |  l_suppkey * 2 + 1 AS sn FROM lineitem),
        |e AS (SELECT pn AS src, sn AS dst FROM pairs
        |      UNION ALL SELECT sn, pn FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |        FROM e GROUP BY src),
        |n AS (SELECT DISTINCT src AS node FROM e),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM n)"""
        .stripMargin
    val rounds = (0 until iters).map { k =>
      s""",
         |s$k AS (SELECT e.dst AS node,
         |  CAST(sum(r.rank // d.deg) AS BIGINT) AS s
         | FROM e JOIN r$k r ON r.node = e.src
         |   JOIN deg d ON d.src = e.src GROUP BY e.dst),
         |r${k + 1} AS (SELECT n.node,
         |  CAST(150000 + COALESCE(s.s, 0) * 17 // 20 AS BIGINT) AS rank
         | FROM n LEFT JOIN s$k s ON s.node = n.node)""".stripMargin
    }.mkString
    head + rounds + s"\nSELECT node, rank FROM r$iters ORDER BY node"
  }

  /** Label-propagation communities under the gate (q206): 4 synchronous
    * rounds of [[graft.operators.LabelProp.propagate]] over the
    * symmetrized part–supplier bipartite graph restricted to first line
    * items (the sparser slice keeps real community structure — 21
    * surviving labels over ~2k nodes at sf0.01, vs near-total collapse
    * on the dense full graph). Any drift in the vote count, the
    * synchronous-update discipline, or the min-label tie break moves
    * labels. The oracle unrolls the rounds: per round one GROUP BY vote
    * count and a (count DESC, label) argmax. */
  def labelPropQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_linenumber") === 1)
    val pairs = li.select((col("l_partkey") * 2).as("pn"),
        (col("l_suppkey") * 2 + 1).as("sn")).distinct()
    val edges = pairs.select(col("pn").as("src"), col("sn").as("dst"))
      .unionByName(pairs.select(col("sn").as("src"), col("pn").as("dst")))
    graft.operators.LabelProp.propagate(edges, "src", "dst", iters = 4)
      .orderBy(col("node"))
  }

  /** q206's oracle: the synchronous rounds unrolled — votes are exact
    * neighbor-label counts, the winner is the (count DESC, label)
    * argmax, and a node with no in-edges keeps its previous label
    * (cannot occur on this symmetrized graph; the COALESCE still
    * restates the operator's contract). */
  private def labelPropOracle(iters: Int): String = {
    val head =
      """WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS pn,
        |  l_suppkey * 2 + 1 AS sn FROM lineitem WHERE l_linenumber = 1),
        |e AS (SELECT pn AS src, sn AS dst FROM pairs
        |      UNION ALL SELECT sn, pn FROM pairs),
        |n AS (SELECT DISTINCT src AS node FROM e
        |      UNION SELECT DISTINCT dst FROM e),
        |l0 AS (SELECT node, node AS label FROM n)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s""",
         |v$k AS (SELECT e.dst AS node, l.label, count(*) AS c
         | FROM e JOIN l${k - 1} l ON e.src = l.node GROUP BY 1, 2),
         |b$k AS (SELECT node, label, row_number() OVER
         |  (PARTITION BY node ORDER BY c DESC, label) AS rk FROM v$k),
         |l$k AS (SELECT n.node, COALESCE(b.label, p.label) AS label
         | FROM n JOIN l${k - 1} p USING (node)
         | LEFT JOIN (SELECT node, label FROM b$k WHERE rk = 1) b
         |   USING (node))""".stripMargin
    }.mkString
    head + rounds + s"\nSELECT node, label FROM l$iters ORDER BY node"
  }

  /** Chi-squared drift audit under the gate (q207): the event-type
    * distribution of the high-value event slice (`value > 50`) against
    * the low-value reference through
    * [[graft.functions.Drift.chiSquaredAudit]] at t = 1/4. The synthetic
    * generator ties type mix to value weakly, so per-category
    * contributions straddle 0.25 at every tested SF (2 of 5 categories
    * drift at sf0.01, 4 of 5 at sf0.1) — an expected-count drift, a
    * squared-term slip, or a cross-multiplication off-by-one flips
    * verdicts. The oracle restates the exact rational in HUGEINT.
    * Gate output carries chi_num/chi_den as BIGINT (gate-stable across
    * reader paths; values ≤ ~1.3e14 at every tested SF vs 9.2e18
    * headroom) — the operator's DECIMAL(38,0) arithmetic is internal
    * and spec-pinned at billion-scale counts in DriftSpec. */
  def chiDriftQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    graft.functions.Drift.chiSquaredAudit(
        e.filter(col("value") <= 50), e.filter(col("value") > 50),
        "event_type", tNum = 1, tDen = 4)
      .withColumn("chi_num", col("chi_num").cast("long"))
      .withColumn("chi_den", col("chi_den").cast("long"))
      .orderBy(col("category"))
  }

  /** Batch-perceptron training under the gate (q208): 4 rounds over
    * lineitem with integer features (quantity, linenumber, partkey mod
    * 13) and a planted linear ground truth `qty − 3·line − 2·pmod + 5 >
    * 0`, label-flipped on every 13th order key (irreducible noise) — so
    * the trainer has something real to learn: the misclassified count
    * falls monotonically (60000 → 23939 → 21657 → 8912 at sf0.01) and
    * every round's misclassified SET differs, so a frozen-weights bug,
    * a margin off-by-one (≤ vs <), or an update-order slip each move a
    * different round. The oracle replays the rounds with single-row
    * weight CTEs. */
  def perceptronQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(
      col("l_quantity").cast("long").as("qty"),
      col("l_linenumber").cast("long").as("line"),
      (col("l_partkey") % 13).as("pmod"),
      (when((col("l_quantity") - col("l_linenumber") * 3 -
        (col("l_partkey") % 13) * 2 + 5) > 0, 1L).otherwise(-1L) *
        when(col("l_orderkey") % 13 === 0, -1L).otherwise(1L)).as("y"))
    graft.functions.LinearClassifier.perceptronHistory(
        li, "y", Seq("qty", "line", "pmod"), iters = 4)
      .orderBy(col("iter"), col("feature"))
  }

  /** q208's oracle: the batch rounds unrolled — each round one filtered
    * aggregate under the previous single-row weight CTE (zero weights
    * make round 1's margin 0, so every row is misclassified: n_mis(1)
    * pins N), then the summed update. */
  private def perceptronOracle(iters: Int): String = {
    val head =
      """WITH f AS (SELECT CAST(l_quantity AS BIGINT) AS x0,
        |  CAST(l_linenumber AS BIGINT) AS x1,
        |  CAST(l_partkey % 13 AS BIGINT) AS x2,
        |  (CASE WHEN l_quantity - l_linenumber * 3 -
        |     (l_partkey % 13) * 2 + 5 > 0 THEN 1 ELSE -1 END *
        |   CASE WHEN l_orderkey % 13 = 0 THEN -1 ELSE 1 END) AS y
        | FROM lineitem),
        |w0 AS (SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS wx0,
        |       CAST(0 AS BIGINT) AS wx1, CAST(0 AS BIGINT) AS wx2)"""
        .stripMargin
    val rounds = (1 to iters).map { k =>
      s""",
         |m$k AS (SELECT count(*) AS n_mis,
         |  COALESCE(sum(y), 0) AS db, COALESCE(sum(y * x0), 0) AS d0,
         |  COALESCE(sum(y * x1), 0) AS d1, COALESCE(sum(y * x2), 0) AS d2
         | FROM f, w${k - 1} w
         | WHERE y * (w.b + w.wx0 * x0 + w.wx1 * x1 + w.wx2 * x2) <= 0),
         |w$k AS (SELECT CAST(w.b + m.db AS BIGINT) AS b,
         |  CAST(w.wx0 + m.d0 AS BIGINT) AS wx0,
         |  CAST(w.wx1 + m.d1 AS BIGINT) AS wx1,
         |  CAST(w.wx2 + m.d2 AS BIGINT) AS wx2
         | FROM w${k - 1} w, m$k m)""".stripMargin
    }.mkString
    val rows = (1 to iters).flatMap { k =>
      Seq(
        s"SELECT CAST($k AS BIGINT) AS iter, (SELECT n_mis FROM m$k) AS n_mis, 'bias' AS feature, (SELECT b FROM w$k) AS weight",
        s"SELECT $k, (SELECT n_mis FROM m$k), 'qty', (SELECT wx0 FROM w$k)",
        s"SELECT $k, (SELECT n_mis FROM m$k), 'line', (SELECT wx1 FROM w$k)",
        s"SELECT $k, (SELECT n_mis FROM m$k), 'pmod', (SELECT wx2 FROM w$k)")
    }.mkString("\nUNION ALL ")
    head + rounds + "\n" + rows + "\nORDER BY iter, feature"
  }

  /** Gap-filled per-cohort daily series under the gate (q209): events
    * keyed by `user_id % 25`, bucketed to days since epoch, densified
    * over each cohort's observed span ([[graft.operators.GapFill
    * .densify]] — gap days appear with n_events = 0) and the last
    * observed daily event type carried forward ([[GapFill.fillForward]]).
    * Sparse cohorts at the gate SF leave real gaps, so a missing grid
    * row, a zero-vs-null slip, or a fill that reads the raw frame
    * instead of the densified one all move rows. */
  def gapFillQ(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .filter(col("event_id") % 11 === 0) // sparse slice: real gaps
      .groupBy((col("user_id") % 25).as("k"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .agg(count(lit(1)).as("n_events"),
        max(col("event_type")).as("last_type"))
    val dense = graft.operators.GapFill.densify(daily, Seq("k"), "day")
      .withColumn("n_events", coalesce(col("n_events"), lit(0L)))
    graft.operators.GapFill.fillForward(dense, Seq("k"), "day",
        Seq("last_type"))
      .orderBy(col("k"), col("day"))
  }

  /** Batch gap sessionization under the gate (q211): every event gets a
    * 1-based per-user session id, a new session opening on a strict
    * 30-minute silence ([[graft.operators.SortedFold.sessionize]] — the
    * O(1)-state secondary-sort scan, never a buffering window). Events
    * are second-truncated so both engines order and difference the same
    * timestamps (the raw column is nanos parquet); ties break on
    * event_id. The oracle restates the classic lag-gap + running-sum
    * construction. */
  def sessionizeQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts"))
    graft.operators.SortedFold.sessionize(e, "user_id", "ts", "event_id",
        gapSec = 1800)
      .select(col("event_id"), col("user_id"), col("session_id"))
      .orderBy(col("event_id"))
  }

  /** Session dwell/bounce report under the gate (q250): q211's
    * sessions rolled up per user — session counts, single-event
    * bounces, total and max dwell microseconds — the product-analytics
    * trio on top of [[graft.operators.SortedFold.sessionize]]. Dwell
    * is exact (last − first micros per session); a session split or
    * merged anywhere moves bounces AND dwell together. */
  def sessionReportQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts"))
    graft.operators.SortedFold.sessionize(e, "user_id", "ts", "event_id",
        gapSec = 1800)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n"),
        (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
          .as("dwell_us"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum(col("dwell_us")).as("total_dwell_us"),
        max(col("dwell_us")).as("max_dwell_us"))
      .orderBy(col("user_id"))
  }

  /** Fixed-point EWMA smoothing under the gate (q212): per user-cohort
    * (user_id mod 25) event values in cents, smoothed at α = 1/4 in
    * exact integer arithmetic ([[graft.operators.SortedFold.ewma]]).
    * Every output row depends on the key's ENTIRE ordered prefix, so a
    * single swapped pair, a lost first-element seed, or a rounding-mode
    * drift moves rows. The oracle replays the recurrence with
    * list_reduce over running prefixes. */
  def ewmaQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events").select(
      col("event_id"), (col("user_id") % 25).as("k"),
      date_trunc("second", col("ts")).as("ts"),
      floor(col("value") * 100).cast("long").as("xv"))
    graft.operators.SortedFold.ewma(e, "k", Seq("ts", "event_id"), "xv",
        alphaNum = 1, alphaDen = 4)
      .select(col("event_id"), col("k"), col("xv"), col("ewma"))
      .orderBy(col("event_id"))
  }

  /** CUSUM change-point monitoring under the gate (q213): the q209
    * densified per-cohort daily event counts fed through
    * [[graft.operators.SortedFold.cusum]] at drift 2/day — gap days
    * (zero events) DECAY the statistic, which is exactly why the
    * densify step precedes it — with alarms at h = 3. Cohort maxima
    * straddle the threshold at the gate SF (1–5), so a lost gap day, a
    * wrong max(0,·) clamp, or a seed slip flips alarm rows. The oracle
    * replays the recurrence by list_reduce over zero-seeded prefixes. */
  def cusumQ(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .filter(col("event_id") % 11 === 0)
      .groupBy((col("user_id") % 25).as("k"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val dense = graft.operators.GapFill.densify(daily, Seq("k"), "day")
      .select(col("k"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("x"))
    graft.operators.SortedFold.cusum(dense, "k", Seq("day"), "x", drift = 2)
      .withColumn("alarm", col("cusum") > 3)
      .orderBy(col("k"), col("day"))
  }

  /** Degree-oriented triangle counting under the gate (q214): per-part
    * triangle participation in the co-order graph (parts sharing an
    * order, canonical u < v edges) through
    * [[graft.operators.Triangles.perNodeCounts]]. The first three line
    * items per order define the graph — the full clique-per-order graph
    * carries 41M wedges at sf0.1 (30× the work) purely by gate-data
    * construction; the operator's m^{3/2} bound is what's under test,
    * not the dataset's density. 13.8k triangles over 1999 of 2000 parts
    * (counts 1–76) at sf0.01, so a double-generated triangle, a broken
    * (degree, id) orientation, or a lost closing edge moves many
    * counts. The oracle is the naive three-way self-join on a < b < c —
    * agreement pins that orientation generates each triangle exactly
    * once. */
  def trianglesQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_linenumber") <= 3)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    val edges = graft.operators.Triangles.canonicalEdges(pairs, "u", "v")
    graft.operators.Triangles.perNodeCounts(edges)
      .orderBy(col("node"))
  }

  /** k-core decomposition under the gate (q215): 5 synchronous peeling
    * rounds at k = 12 over the symmetrized sparse co-order graph (the
    * q214 slice) through [[graft.operators.KCore.kCore]] — at the gate
    * SF the cascade removes nodes in each of rounds 1–4 (1832 → 1808 →
    * 1804 → 1803 survivors of 1999) and round 5 confirms the fixpoint,
    * so an off-by-one on `>= k`, an asynchronous peel, or a stale-degree
    * slip each move a different round. The oracle unrolls the rounds:
    * one degree count + two-sided membership join per peel. */
  def kCoreQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_linenumber") <= 3)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    val canon = graft.operators.Triangles.canonicalEdges(pairs, "u", "v")
    val sym = canon.unionAll(
      canon.select(col("v").as("u"), col("u").as("v")))
    graft.operators.KCore.kCore(sym, "u", "v", k = 12, rounds = 5)
      .orderBy(col("node"))
  }

  /** Local clustering coefficient under the gate (q216): the q214
    * triangle counts normalized to the exact rational 2·t/(deg·(deg−1))
    * per part via [[graft.operators.Triangles.clusteringCoefficient]] —
    * every node present including the triangle-free and the
    * degree-undefined (cc_den 0) edges of the contract. */
  def clusteringQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_linenumber") <= 3)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    graft.operators.Triangles.clusteringCoefficient(
        graft.operators.Triangles.canonicalEdges(pairs, "u", "v"))
      .orderBy(col("node"))
  }

  /** q215's oracle: the synchronous peels unrolled — per round the
    * survivor set from the previous round's degrees, applied to BOTH
    * edge endpoints before the next count. */
  private def kCoreOracle(k: Long, rounds: Int): String = {
    val head =
      """WITH pe AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_linenumber <= 3 AND b.l_linenumber <= 3),
        |e0 AS (SELECT u AS src, v AS dst FROM pe
        |       UNION ALL SELECT v, u FROM pe)""".stripMargin
    val peels = (1 to rounds).map { r =>
      s""",
         |k$r AS (SELECT src FROM (SELECT src, count(*) AS c
         |        FROM e${r - 1} GROUP BY src) WHERE c >= $k),
         |e$r AS (SELECT e.src, e.dst FROM e${r - 1} e
         |        JOIN k$r a ON e.src = a.src
         |        JOIN k$r b ON e.dst = b.src)""".stripMargin
    }.mkString
    head + peels +
      s"\nSELECT src AS node, count(*) AS deg FROM e$rounds" +
      "\nGROUP BY src ORDER BY node"
  }

  /** Rendezvous shard routing under the gate (q217): every part key
    * routed over 7 shards, then over the same ring with shard s3
    * REMOVED ([[graft.functions.Sharding.rendezvousAssign]] on the md5
    * hash60 seam). The minimal-disruption law rides the output as data:
    * `moved` is true exactly for the keys whose old shard was s3
    * (~1/7 of keys), because removing a candidate can only promote the
    * runner-up where that candidate had won — a hash-mod router would
    * move ~6/7. The oracle replays every per-(key, shard) hash and both
    * argmaxes. */
  def rendezvousQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sharding
    val keys = Tables.load(s, dir, "part").select(col("p_partkey"))
    val ring = (0 to 6).map(i => s"s$i")
    val routed = Sharding.rendezvousAssign(
      Sharding.rendezvousAssign(keys, "p_partkey", ring, "shard_old"),
      "p_partkey", ring.filterNot(_ == "s3"), "shard_new")
    routed.select(col("p_partkey"), col("shard_old"), col("shard_new"),
        (col("shard_old") =!= col("shard_new")).as("moved"))
      .orderBy(col("p_partkey"))
  }

  /** Markov transition counts under the gate (q218): the per-user
    * event-type transition matrix through
    * [[graft.operators.Paths.transitionCounts]] — first events count
    * from the `^start` entry state; the lag rides the O(1)-state
    * [[graft.operators.SortedFold.lagged]] scan, never a buffering
    * window. 30 (from, to) cells whose counts pin per-key ordering,
    * the entry-state convention, and cross-key isolation. */
  def transitionsQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts"), col("event_type"))
    graft.operators.Paths.transitionCounts(e, "user_id",
        Seq("ts", "event_id"), "event_type")
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Top session paths under the gate (q219): 15-minute-gap sessions'
    * ordered event-type journeys through
    * [[graft.operators.Paths.topPaths]] — 9774 sessions collapse to 34
    * distinct paths at sf0.01, top 20 reported with ties on the path
    * string. The collect_list is SESSION-bounded (the gap closes
    * runaway sessions), the only collect_list discipline that survives
    * a bot user. */
  def topPathsQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts"), col("event_type"))
    graft.operators.Paths.topPaths(e, "user_id", "ts", "event_id",
        "event_type", gapSec = 900, k = 20)
      .orderBy(col("n_sessions").desc, col("path"))
  }

  /** Personalized PageRank under the gate (q220): random walk with
    * restart to the PART side of the sparse co-order bipartite graph
    * ([[graft.operators.PageRank.personalizedPagerank]], seeds = the
    * even-coded part nodes) — supplier ranks now measure proximity to
    * parts, not global centrality, and non-seed restart mass is zero
    * (a node unreachable from the seeds must read rank 0, which the
    * oracle's seed CASE restates). Same exact integer contract as
    * q201. */
  def personalizedRankQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_linenumber") === 1)
    val pairs = li.select((col("l_partkey") * 2).as("pn"),
        (col("l_suppkey") * 2 + 1).as("sn")).distinct()
    val edges = pairs.select(col("pn").as("src"), col("sn").as("dst"))
      .unionByName(pairs.select(col("sn").as("src"), col("pn").as("dst")))
    val seeds = pairs.select(col("pn").as("node")).distinct()
    graft.operators.PageRank.personalizedPagerank(edges, "src", "dst",
        seeds, "node", iters = 4)
      .orderBy(col("node"))
  }

  /** q220's oracle: q201's integer iteration with the restart term
    * gated on the seed flag (even node code = part side). */
  private def personalizedRankOracle(iters: Int): String = {
    val head =
      """WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS pn,
        |  l_suppkey * 2 + 1 AS sn FROM lineitem WHERE l_linenumber = 1),
        |e AS (SELECT pn AS src, sn AS dst FROM pairs
        |      UNION ALL SELECT sn, pn FROM pairs),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
        |        FROM e GROUP BY src),
        |n AS (SELECT node, CAST(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END
        |        AS BIGINT) AS seed
        |      FROM (SELECT DISTINCT src AS node FROM e
        |            UNION SELECT DISTINCT dst FROM e)),
        |r0 AS (SELECT node, CAST(seed * 1000000 AS BIGINT) AS rank FROM n)"""
        .stripMargin
    val rounds = (0 until iters).map { k =>
      s""",
         |s$k AS (SELECT e.dst AS node,
         |  CAST(sum(r.rank // d.deg) AS BIGINT) AS s
         | FROM e JOIN r$k r ON r.node = e.src
         |   JOIN deg d ON d.src = e.src GROUP BY e.dst),
         |r${k + 1} AS (SELECT n.node,
         |  CAST(n.seed * 150000 + COALESCE(s.s, 0) * 17 // 20 AS BIGINT)
         |    AS rank
         | FROM n LEFT JOIN s$k s ON s.node = n.node)""".stripMargin
    }.mkString
    head + rounds + s"\nSELECT node, rank FROM r$iters ORDER BY node"
  }

  /** Multi-source BFS under the gate (q222): hop distances from the
    * low-key part seeds (partkey ≤ 20) over the symmetrized sparse
    * co-order graph, 3 hops ([[graft.operators.Bfs
    * .multiSourceDistances]]) — output layers 0–3 with unreached parts
    * absent, so a leaked frontier, a non-min merge, or an extra hop all
    * move rows. The oracle unrolls the frontier rounds with null-safe
    * least merges. */
  def bfsQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_linenumber") <= 3)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    val canon = graft.operators.Triangles.canonicalEdges(pairs, "u", "v")
    val sym = canon.unionAll(
      canon.select(col("v").as("u"), col("u").as("v")))
    val seeds = sym.select(col("u").as("node"))
      .filter(col("node") <= 20).distinct()
    graft.operators.Bfs.multiSourceDistances(sym, "u", "v", seeds, "node",
        maxHops = 3)
      .orderBy(col("node"))
  }

  /** Bounded Bellman-Ford under the gate (q224): CHEAPEST-path cost
    * from the low-key part seeds over the same symmetrized co-order
    * graph as q222, edge weight `1 + (u + v) % 7`, 4 relaxation rounds
    * ([[graft.operators.Bfs.weightedDistances]]). The weights decouple
    * cost from hop count (costs reach 7 where hops stop at 3), and the
    * rounds still move values at the gate (round 3 → 4 drops the sf0.01
    * distance sum 6939 → 6765 before converging), so a short-counted
    * round, a non-least merge, or a frontier that misses an IMPROVED
    * (not just new) node each shifts the output. The oracle unrolls the
    * relaxation rounds as CTEs, q222-style. */
  def weightedPathsQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_linenumber") <= 3)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    val canon = graft.operators.Triangles.canonicalEdges(pairs, "u", "v")
      .withColumn("w", lit(1L) + (col("u") + col("v")) % 7)
    val sym = canon.unionAll(
      canon.select(col("v").as("u"), col("u").as("v"), col("w")))
    val seeds = sym.select(col("u").as("node"))
      .filter(col("node") <= 20).distinct()
    graft.operators.Bfs.weightedDistances(sym, "u", "v", "w", seeds,
        "node", rounds = 4)
      .orderBy(col("node"))
  }

  /** q224's oracle: the Bellman-Ford rounds unrolled — per round a
    * grouped `min(dist + w)` over the previous distance set, merged
    * null-safely with `least`. */
  private def weightedPathsOracle(rounds: Int): String = {
    val head =
      """WITH pe AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_linenumber <= 3 AND b.l_linenumber <= 3),
        |e AS (SELECT u AS src, v AS dst, 1 + (u + v) % 7 AS w FROM pe
        |      UNION ALL SELECT v, u, 1 + (u + v) % 7 FROM pe),
        |d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
        |       FROM e WHERE src <= 20)""".stripMargin
    val rs = (1 to rounds).map { h =>
      s""",
         |f$h AS (SELECT e.dst AS node, min(d.dist + e.w) AS c
         | FROM e JOIN d${h - 1} d ON e.src = d.node GROUP BY 1),
         |d$h AS (SELECT node,
         |  CAST(least(COALESCE(d.dist, f.c), COALESCE(f.c, d.dist))
         |    AS BIGINT) AS dist
         | FROM d${h - 1} d FULL JOIN f$h f USING (node))""".stripMargin
    }.mkString
    head + rs + s"\nSELECT node, dist FROM d$rounds ORDER BY node"
  }

  /** Cheapest-path TREE under the gate (q259): q224's graph and
    * rounds, but with predecessor reconstruction
    * ([[graft.operators.Bfs.weightedPathTree]]) — the lexicographic
    * (dist, pred) struct state makes the tree unique, and the oracle
    * unrolls the same struct-min rounds, so a tie broken to the wrong
    * predecessor, a pred carried from a stale round, or a struct-vs-
    * scalar merge slip all move rows even where distances agree. */
  def weightedPathTreeQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .filter(col("l_linenumber") <= 3)
      .select(col("l_orderkey"), col("l_partkey"))
    val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
    val canon = graft.operators.Triangles.canonicalEdges(pairs, "u", "v")
      .withColumn("w", lit(1L) + (col("u") + col("v")) % 7)
    val sym = canon.unionAll(
      canon.select(col("v").as("u"), col("u").as("v"), col("w")))
    val seeds = sym.select(col("u").as("node"))
      .filter(col("node") <= 20).distinct()
    graft.operators.Bfs.weightedPathTree(sym, "u", "v", "w", seeds,
        "node", rounds = 4)
      .orderBy(col("node"))
  }

  /** q259's oracle: the q224 relaxation rounds with (dist, pred)
    * struct-min candidates and a struct-least merge. */
  private def weightedPathTreeOracle(rounds: Int): String = {
    val head =
      """WITH pe AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_linenumber <= 3 AND b.l_linenumber <= 3),
        |e AS (SELECT u AS src, v AS dst, 1 + (u + v) % 7 AS w FROM pe
        |      UNION ALL SELECT v, u, 1 + (u + v) % 7 FROM pe),
        |d0 AS (SELECT DISTINCT src AS node,
        |  struct_pack(dist := CAST(0 AS BIGINT),
        |              pred := CAST(src AS BIGINT)) AS s
        |       FROM e WHERE src <= 20)""".stripMargin
    val rs = (1 to rounds).map { h =>
      s""",
         |f$h AS (SELECT e.dst AS node,
         |  min(struct_pack(dist := d.s.dist + e.w,
         |                  pred := CAST(e.src AS BIGINT))) AS c
         | FROM e JOIN d${h - 1} d ON e.src = d.node GROUP BY 1),
         |d$h AS (SELECT node, CASE
         |   WHEN d.s IS NULL THEN f.c
         |   WHEN f.c IS NULL THEN d.s
         |   WHEN f.c < d.s THEN f.c ELSE d.s END AS s
         | FROM d${h - 1} d FULL JOIN f$h f USING (node))""".stripMargin
    }.mkString
    head + rs +
      s"\nSELECT node, CAST(s.dist AS BIGINT) AS dist," +
      s" CAST(s.pred AS BIGINT) AS pred FROM d$rounds ORDER BY node"
  }

  /** q222's oracle: the frontier rounds unrolled — per hop a grouped
    * `min(dist + 1)` over the previous distance set, merged null-safely. */
  private def bfsOracle(hops: Int): String = {
    val head =
      """WITH pe AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_linenumber <= 3 AND b.l_linenumber <= 3),
        |e AS (SELECT u AS src, v AS dst FROM pe
        |      UNION ALL SELECT v, u FROM pe),
        |d0 AS (SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
        |       FROM e WHERE src <= 20)""".stripMargin
    val rounds = (1 to hops).map { h =>
      s""",
         |f$h AS (SELECT e.dst AS node, min(d.dist + 1) AS c
         | FROM e JOIN d${h - 1} d ON e.src = d.node GROUP BY 1),
         |d$h AS (SELECT node,
         |  CAST(least(COALESCE(d.dist, f.c), COALESCE(f.c, d.dist))
         |    AS BIGINT) AS dist
         | FROM d${h - 1} d FULL JOIN f$h f USING (node))""".stripMargin
    }.mkString
    head + rounds + s"\nSELECT node, dist FROM d$hops ORDER BY node"
  }

  /** Model SERVING under the gate (q223): the q208-trained weights
    * applied as a pure scoring projection
    * ([[graft.functions.LinearClassifier.predict]]) — train 2 rounds on
    * the same planted-truth corpus, then score every row with the
    * resulting model; margins and the `> 0` boundary restate as one
    * linear CASE. Output is id-keyed per row, so a single mis-scored
    * margin breaks the hash. */
  def perceptronPredictQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
      col("l_quantity").cast("long").as("qty"),
      col("l_linenumber").cast("long").as("line"),
      (col("l_partkey") % 13).as("pmod"),
      (when((col("l_quantity") - col("l_linenumber") * 3 -
        (col("l_partkey") % 13) * 2 + 5) > 0, 1L).otherwise(-1L) *
        when(col("l_orderkey") % 13 === 0, -1L).otherwise(1L)).as("y"))
    val model = graft.functions.LinearClassifier.trainPerceptron(
      li, "y", Seq("qty", "line", "pmod"), iters = 2).last.weights
    graft.functions.LinearClassifier.predict(
        li, Seq("qty", "line", "pmod"), model)
      .select(col("rid"), col("margin"), col("pred"))
      .orderBy(col("rid"))
  }

  /** q223's oracle: the 2 training rounds (q208's CTE chain truncated)
    * plus the scoring projection under the final single-row weights. */
  private def perceptronPredictOracle: String = {
    val train = perceptronOracle(2)
    // reuse the training chain's CTEs; replace its report tail with the
    // scoring projection joined against the final weight row
    val upToRows = train.substring(0, train.indexOf("\nSELECT CAST(1"))
    upToRows +
      """
        |, scored AS (SELECT
        |  l_orderkey * 10 + l_linenumber AS rid,
        |  w.b + w.wx0 * CAST(l_quantity AS BIGINT) +
        |   w.wx1 * CAST(l_linenumber AS BIGINT) +
        |   w.wx2 * CAST(l_partkey % 13 AS BIGINT) AS margin
        | FROM lineitem, w2 w)
        |SELECT rid, margin,
        | CAST(CASE WHEN margin > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
        |FROM scored ORDER BY rid""".stripMargin
  }

  /** Model lift table under the gate (q257): the q223 scoring
    * projection binned into 10 margin deciles by the WINDOWLESS
    * distributed ntile ([[graft.functions.Sharding.ntileByScore]] —
    * no global-order single-partition exchange), then per-decile
    * positives and the top-down cumulative — the decile lift curve
    * every model release reads. A trained model must concentrate
    * positives in the high-margin bins; the gate pins the exact
    * per-bin counts, so a rank formula drift, a front-loaded NTILE
    * remainder, or a margin scored with wrapped longs all move rows. */
  def liftTableQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem").select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
      col("l_quantity").cast("long").as("qty"),
      col("l_linenumber").cast("long").as("line"),
      (col("l_partkey") % 13).as("pmod"),
      (when((col("l_quantity") - col("l_linenumber") * 3 -
        (col("l_partkey") % 13) * 2 + 5) > 0, 1L).otherwise(-1L) *
        when(col("l_orderkey") % 13 === 0, -1L).otherwise(1L)).as("y"))
    val model = graft.functions.LinearClassifier.trainPerceptron(
      li, "y", Seq("qty", "line", "pmod"), iters = 2).last.weights
    val scored = graft.functions.LinearClassifier.predict(
      li, Seq("qty", "line", "pmod"), model)
    val binned = graft.functions.Sharding.ntileByScore(
      scored.select(col("rid"), col("margin"), col("y")),
      "rid", "margin", k = 10)
    val perBin = binned.groupBy(col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    // the 10-row lift frame: a global window here is a 10-row sort
    perBin.withColumn("cum_pos", sum(col("n_pos")).over(w))
      .orderBy(col("bin"))
  }

  /** q257's oracle: the q223 scoring chain + the planted label, global
    * (margin, rid) rank, bin = (rank·10) div n, per-bin counts and the
    * top-down cumulative. */
  private def liftTableOracle: String = {
    val train = perceptronOracle(2)
    val upToRows = train.substring(0, train.indexOf("\nSELECT CAST(1"))
    upToRows +
      """
        |, scored AS (SELECT
        |  l_orderkey * 10 + l_linenumber AS rid,
        |  w.b + w.wx0 * CAST(l_quantity AS BIGINT) +
        |   w.wx1 * CAST(l_linenumber AS BIGINT) +
        |   w.wx2 * CAST(l_partkey % 13 AS BIGINT) AS margin,
        |  (CASE WHEN CAST(l_quantity AS BIGINT) - 3 * l_linenumber
        |     - 2 * (l_partkey % 13) + 5 > 0 THEN 1 ELSE -1 END) *
        |  (CASE WHEN l_orderkey % 13 = 0 THEN -1 ELSE 1 END) AS y
        | FROM lineitem, w2 w),
        |r AS (SELECT margin, y,
        |  row_number() OVER (ORDER BY margin, rid) - 1 AS rnk,
        |  count(*) OVER () AS n FROM scored),
        |b AS (SELECT (rnk * 10) // n AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) FILTER (y = 1) AS BIGINT) AS n_pos
        | FROM r GROUP BY 1)
        |SELECT CAST(bin AS BIGINT) AS bin, n, n_pos,
        | CAST(sum(n_pos) OVER (ORDER BY bin DESC
        |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
        |FROM b ORDER BY bin""".stripMargin
  }

  /** Exact percentiles per group (linear interpolation — same formula in
    * both engines). */
  def percentilesQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    e.groupBy(col("event_type"))
      .agg(
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** Pivot: event types to columns, decimal-summed per user (the
    * spreadsheet-shaped rollup the reference's consumers export). */
  def pivotQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .withColumn("value", col("value").cast(DecimalType(18, 2)))
    e.groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(sum(col("value")))
      .select(col("user_id") +: Seq("click", "view", "purchase", "signup", "error")
        .map(t => col(t).cast("double").as(t)): _*)
      .orderBy(col("user_id"))
  }

  /** One-scan ANALYZE over lineitem's integer/string columns: row/null
    * counts, KMV NDV estimates, typed min/max — the CBO feed. Every
    * column's statistics come from a SINGLE aggregation pass (bounded
    * per-column partial state), never per-column rescans. Doubles and
    * timestamps are excluded: their string renderings differ across
    * engines (the operator doc says to pre-project them). */
  def tableStatsQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TableStats.columnStats(
        Tables.load(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus"))
      .orderBy(col("column_name"))

  /** The stats pass on low-cardinality columns: below the sketch capacity
    * k the KMV estimate is EXACTLY the distinct count regardless of hash
    * function — so the oracle states it as count(distinct), with no hash
    * to restate. All four columns are structurally low-cardinality at ANY scale
    * factor (line numbers 1-7, two flag domains, integral quantities
    * 1-50), so the below-k precondition holds at every SF. l_quantity is
    * double-typed — pre-projected to BIGINT because the operator's bounds
    * render as strings and double renderings differ across engines. */
  def tableStatsFastQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TableStats.columnStats(
        Tables.load(s, dir, "lineitem")
          .withColumn("l_qty_int", col("l_quantity").cast("long")),
        Seq("l_linenumber", "l_returnflag", "l_linestatus", "l_qty_int"))
      .orderBy(col("column_name"))

  /** Equi-width histogram over l_extendedprice (16 buckets) — the CBO
    * selectivity feed on top of q120's bounds/NDV. Every arithmetic step
    * (bucket index, bucket bounds) is a left-to-right IEEE double chain
    * restated verbatim, so the exact per-bucket counts AND the exact
    * double bucket boundaries hash-match. */
  def histogramQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TableStats.histogram(
        Tables.load(s, dir, "lineitem"), "l_extendedprice", nBuckets = 16)
      .orderBy(col("bucket"))

  /** Sketch-based join-size estimation: the distinct-custkey overlap
    * between orders and customer estimated from two 256-entry KMV
    * sketches ALONE (no re-scan at estimation time), with the exact
    * intersection alongside so the report exhibits the estimator's
    * error. The planner question this answers at 100 TB: "how many
    * distinct keys survive this equi-join?" from a stats table instead
    * of a trial join. */
  def joinEstimateQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    val ska = Tables.load(s, dir, "orders")
      .select(Sketches.hash60(col("o_custkey").cast("string")).as("h"))
      .agg(Sketches.kmvSketch(col("h"), 256).as("ska"))
    val skb = Tables.load(s, dir, "customer")
      .select(Sketches.hash60(col("c_custkey").cast("string")).as("h"))
      .agg(Sketches.kmvSketch(col("h"), 256).as("skb"))
    val exact = Tables.load(s, dir, "orders")
      .select(col("o_custkey").as("k")).distinct()
      .join(Tables.load(s, dir, "customer")
        .select(col("c_custkey").as("k")).distinct(), Seq("k"))
      .agg(count(lit(1)).as("n_exact_intersection"))
    ska.crossJoin(broadcast(skb)).crossJoin(broadcast(exact))
      .select(Sketches.kmvOverlap(col("ska"), col("skb"), 256).as("ov"),
        col("n_exact_intersection"))
      .select(col("ov.est_union").as("est_union"),
        col("ov.est_jaccard").as("est_jaccard"),
        col("ov.est_intersection").as("est_intersection"),
        col("n_exact_intersection"))
      .orderBy(col("est_union"))
  }

  /** Pre-merge wrong-key guard under the gate (q226): the
    * [[graft.plans.MergeGuard]] overlap report — the exact seam
    * `GraftMergeCommand` consults under `spark.graft.merge.guard` —
    * on a correct staging→warehouse key pairing (orders.o_custkey vs
    * customer.c_custkey: est ≈ 1597 at sf0.01, never refused) and a
    * deliberately disjoint one (negated source keys: est exactly 0,
    * refused). Both sides saturate the k=256 sketch at every SF, so the
    * estimate exercises the saturated est_union/est_jaccard arithmetic,
    * not just complete-sketch counting. The oracle restates the q121
    * KMV pipeline per case. MergeIntoSpec pins the refusal itself (the
    * thrown merge); this gate pins the numbers the refusal reads. */
  def mergeGuardQ(s: SparkSession, dir: String): DataFrame = {
    val target = Tables.load(s, dir, "orders").select(col("o_custkey").as("k"))
    val matched = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("k"))
    val disjoint = Tables.load(s, dir, "customer")
      .select((lit(0L) - col("c_custkey")).as("k"))
    def report(name: String, src: DataFrame) =
      graft.plans.MergeGuard.overlapReport(target, src, Seq("k"))
        .withColumn("case_name", lit(name))
    report("matched", matched).unionByName(report("disjoint", disjoint))
      .withColumn("would_refuse",
        col("n_target_keys") > 0 && col("n_source_keys") > 0 &&
          col("est_intersection") === 0.0)
      .select(col("case_name"), col("n_target_keys"), col("n_source_keys"),
        col("est_intersection"), col("would_refuse"))
      .orderBy(col("case_name"))
  }

  /** q226's oracle: the q121 KMV pipeline per case — target sketch from
    * orders, source sketch from (possibly negated) customer keys,
    * bottom-k union, intersection count, saturated union estimate. */
  private def mergeGuardOracle: String = {
    def bottomK(inner: String) =
      s"""(SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
         |  FROM $inner) WHERE rn <= 256)""".stripMargin
    def hashed(expr: String, table: String) =
      s"""(SELECT DISTINCT ('0x' ||
         |  substring(md5(CAST($expr AS VARCHAR)), 1, 15))::BIGINT AS h
         | FROM $table)""".stripMargin
    val st = bottomK(hashed("o_custkey", "orders"))
    def caseSql(name: String, srcExpr: String) = {
      val ss = bottomK(hashed(srcExpr, "customer"))
      val su = bottomK(s"(SELECT h FROM $st UNION SELECT h FROM $ss)")
      s"""SELECT '$name' AS case_name,
         | (SELECT CAST(count(*) AS BIGINT) FROM $st) AS n_target_keys,
         | (SELECT CAST(count(*) AS BIGINT) FROM $ss) AS n_source_keys,
         | (SELECT (i.ni::DOUBLE / m.sz::DOUBLE) *
         |   (CASE WHEN m.sz < 256 THEN m.sz::DOUBLE
         |         ELSE CAST(255 AS DOUBLE) /
         |           (m.hmax::DOUBLE / 1152921504606846976.0::DOUBLE) END)
         |  FROM (SELECT CAST(count(*) AS BIGINT) AS sz, max(h) AS hmax
         |        FROM $su) m,
         |       (SELECT CAST(count(*) AS BIGINT) AS ni FROM $su
         |        JOIN $st USING (h) JOIN $ss USING (h)) i)
         |   AS est_intersection,
         | (SELECT count(*) = 0 FROM $su
         |  JOIN $st USING (h) JOIN $ss USING (h)) AS would_refuse""".stripMargin
    }
    caseSql("disjoint", "0 - c_custkey") + "\nUNION ALL\n" +
      caseSql("matched", "c_custkey") + "\nORDER BY case_name"
  }

  /** Keyed snapshot diff under the gate (q229): yesterday's load vs
    * today's, simulated from orders — the new snapshot drops every 7th
    * key (removed), lacks every 5th from the old side (added), bumps
    * custkey on every 3rd and flips status on every 11th
    * ([[graft.operators.SnapshotDiff.columnChurn]]). The per-column
    * changed counts OVERLAP (3428 + 935 > 4051 changed rows at
    * sf0.01), so the any-column-changed dedup is value-checked, not
    * just the per-column sums. No join — the operator's side-tagged
    * per-column fingerprints fold in one keyed aggregate. */
  def snapshotDiffQ(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val old = orders.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey").as("k"), col("o_custkey"),
        col("o_orderstatus"))
    val nw = orders.filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 3 === 0, col("o_custkey") + 1000000)
          .otherwise(col("o_custkey")).as("o_custkey"),
        when(col("o_orderkey") % 11 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"))
    graft.operators.SnapshotDiff.columnChurn(old, nw, "k",
        Seq("o_custkey", "o_orderstatus"))
      .orderBy(col("metric"))
  }

  /** Robust median/MAD outlier audit under the gate (q230): the events
    * value column in exact cents (floor(value·100) — identical IEEE
    * steps in both engines), per event type, flagged at 3·MAD
    * ([[graft.functions.RobustStats.madOutlierReport]]). The value
    * distribution is heavy-tailed (median ≈ 35, max 490), so the
    * median yardstick and the 3·MAD fence both sit where a mean/stddev
    * formulation would land elsewhere — med2/mad4/n_outliers all move
    * under an off-by-one rank, a non-strict fence, or a dev2 scale
    * slip. The oracle restates the doubled order statistics with
    * window ranks. */
  def robustOutliersQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.RobustStats.madOutlierReport(
        Tables.load(s, dir, "events")
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "event_type", "cents", kNum = 3, kDen = 1)
      .orderBy(col("event_type"))

  /** Quantile-mapping score calibration under the gate (q231): every
    * event type's cent-value distribution mapped onto the 'view'
    * type's ([[graft.functions.Calibration.quantileNormalize]]) —
    * per-row output, so ONE row landing on the wrong reference order
    * statistic (rank off-by-one, a ceil that floors, a tie broken the
    * other way) breaks the hash. 'view' rows must self-map; ~99 % of
    * other rows shift. */
  def quantileNormQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Calibration.quantileNormalize(
        Tables.load(s, dir, "events")
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "event_id", "event_type", "cents", refGroup = "view")
      .orderBy(col("event_id"))

  /** Functional-dependency audit under the gate (q235): four candidate
    * dependencies across three tables through
    * [[graft.operators.Profiling.fdAudit]] — the key dependency holds
    * (o_orderkey → o_custkey, 0 violations), the other three fail with
    * DISTINCT violation shapes (12386 fanning orders / 18389 surplus
    * flags; 2000/49731; 25/100 at sf0.01), so the two violation
    * counters are value-checked independently, not just the boolean. */
  def fdAuditQ(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(s, dir, "orders")
    val li = Tables.load(s, dir, "lineitem")
    val cust = Tables.load(s, dir, "customer")
    graft.operators.Profiling
      .fdAudit(orders, Seq("o_orderkey" -> "o_custkey"))
      .unionByName(graft.operators.Profiling.fdAudit(li,
        Seq("l_orderkey" -> "l_returnflag", "l_partkey" -> "l_suppkey")))
      .unionByName(graft.operators.Profiling.fdAudit(cust,
        Seq("c_nationkey" -> "c_mktsegment")))
      .orderBy(col("lhs"), col("rhs"))
  }

  /** Referential-integrity audit under the gate (q236): three declared
    * relationships through [[graft.operators.Profiling.riAudit]] — two
    * intact (lineitem→orders, events→customer) and one broken BY
    * CONSTRUCTION (lineitem.l_partkey against a parent missing every
    * 3rd part — the half-loaded dimension), so zero and non-zero
    * orphan paths are both value-checked. */
  def riAuditQ(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val p = graft.operators.Profiling
    p.riAudit(li, "l_orderkey", Tables.load(s, dir, "orders"),
        "o_orderkey", "lineitem->orders")
      .unionByName(p.riAudit(li, "l_partkey",
        Tables.load(s, dir, "part").filter(col("p_partkey") % 3 =!= 0),
        "p_partkey", "lineitem->part_partial"))
      .unionByName(p.riAudit(Tables.load(s, dir, "events"), "user_id",
        Tables.load(s, dir, "customer"), "c_custkey", "events->customer"))
      .orderBy(col("relation"))
  }

  /** Benford first-digit audit under the gate (q238): lineitem price
    * cents at 2 % ppm tolerance ([[graft.operators.Profiling
    * .benfordAudit]]). TPC-H prices are range-uniform, not
    * log-uniform, so eight digits sit off the law while digit 4 lands
    * inside tolerance at sf0.01 — both verdict paths value-checked,
    * and the exact scaled deviations ride the rows. */
  def benfordQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.benfordAudit(
        Tables.load(s, dir, "lineitem")
          .withColumn("cents",
            floor(col("l_extendedprice") * 100).cast("long")),
        "cents", tolPpm = 20000)
      .orderBy(col("digit"))

  /** Time-weighted value sum under the gate (q239): per-user TWAP
    * numerator over the event stream in exact value·microseconds
    * ([[graft.operators.TimeSeries.timeWeightedSum]]) — each gap
    * attributed to the EARLIER row with (ts, event_id) tie order, so
    * a lead taken over the wrong order, a gap attributed to the later
    * row, or a float duration anywhere moves per-user sums. */
  def twapQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.timeWeightedSum(
        Tables.load(s, dir, "events")
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "user_id", "ts", "event_id", "cents")
      .orderBy(col("user_id"))

  /** Interval-union coverage under the gate (q240): 45-minute activity
    * intervals per user merged by the running-max sweep
    * ([[graft.operators.TimeSeries.intervalCoverage]]) — island counts
    * AND covered micros both ride the row, so a sweep that misses a
    * contained interval or double-counts an overlap moves one of them. */
  def coverageQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.intervalCoverage(
        Tables.load(s, dir, "events")
          .withColumn("s_us", unix_micros(col("ts")))
          .withColumn("e_us", unix_micros(col("ts")) + 2700000000L),
        "user_id", "s_us", "e_us", "event_id")
      .orderBy(col("user_id"))

  /** Consecutive-day streaks under the gate (q241): the q213 cohort
    * slice's active-day islands
    * ([[graft.operators.TimeSeries.dayStreaks]]) — streak counts,
    * longest run, and total active days per cohort. */
  def streaksQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.dayStreaks(
        Tables.load(s, dir, "events")
          .filter(col("event_id") % 11 === 0)
          .withColumn("k", col("user_id") % 25)
          .withColumn("day",
            datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
              .cast("long")),
        "k", "day")
      .orderBy(col("k"))

  /** Cooldown filter under the gate (q242): per-user 6-hour emission
    * rate limit ([[graft.operators.SortedFold.cooldownFilter]]) — the
    * reference point is the previous EMISSION, a recursive dependence
    * no window function expresses; the oracle replays the fold with an
    * encoded (lastEmitted·2 + flag) list_reduce. 64 % of rows emit at
    * sf0.01, so both paths carry weight; per-row output. */
  def cooldownQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.SortedFold.cooldownFilter(
        Tables.load(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts")),
        "user_id", "ts", "event_id", cooldownSec = 21600)
      .select(col("event_id"), col("user_id"), col("emitted"))
      .orderBy(col("event_id"))

  /** RANGE-frame trailing window under the gate (q243): the 7-day
    * trailing event count per cohort over the sparse day slice —
    * `RANGE BETWEEN 6 PRECEDING AND CURRENT ROW` on the DAY VALUE, so
    * sparse days genuinely age out by value (a ROWS frame would count
    * the last 7 OBSERVATIONS however far apart — the classic trailing-
    * window bug this gate distinguishes). Exact integers. */
  def rollingRangeQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.load(s, dir, "events")
      .filter(col("event_id") % 11 === 0)
      .groupBy((col("user_id") % 25).as("k"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("k")).orderBy(col("day"))
      .rangeBetween(-6, 0)
    daily
      .withColumn("n_7d", sum(col("n")).over(w))
      .withColumn("days_seen_7d", count(lit(1)).over(w))
      .orderBy(col("k"), col("day"))
  }

  /** Z-order clustering keys under the gate (q244): Morton-interleaved
    * (l_partkey, l_suppkey) low-16-bit keys per lineitem
    * ([[graft.operators.ZOrder.zValue]]) — a static unrolled
    * bit-arithmetic chain (codegen-friendly, no UDF) whose oracle
    * restates every shift/mask term; one swapped bit lane or a
    * dropped mask moves rows. Per-row output. */
  def zorderQ(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select((col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        col("l_partkey"), col("l_suppkey"),
        graft.operators.ZOrder.zValue(
          Seq(col("l_partkey"), col("l_suppkey")), 16).as("z"))
      .orderBy(col("rid"))

  /** First/last-touch attribution under the gate (q266): user
    * timelines segmented at purchases, segment-scoped first and last
    * view/click credited with the purchase cents
    * ([[graft.operators.Attribution.firstLastTouch]]). The synthetic
    * mix leaves ~35% of purchases direct and splits the rest across
    * view/click with the two models disagreeing (first_touch click
    * 638 vs last_touch 635 at sf0.01) — a frame slip, a segment
    * boundary off by one, or credit bleeding across conversions each
    * move cells. */
  def attributionQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Attribution.firstLastTouch(
        Tables.load(s, dir, "events")
          .withColumn("t", unix_micros(col("ts")))
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "user_id", "event_id", "t", "event_type", "cents",
        Seq("view", "click"), "purchase")
      .orderBy(col("model"), col("touch_type"))

  /** Exact correlation audit under the gate (q270): day vs cents per
    * event type at |corr| ≥ 1/100
    * ([[graft.operators.Profiling.correlationAudit]]) — the synthetic
    * mix puts signup/error/click just over the fence (corr² of 6/2/1
    * in 1e-4 units) and purchase/view under it, with signup the only
    * negative direction, so the cross-multiplied verdict, the sign,
    * and all six sufficient sums discriminate. */
  def correlationQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.correlationAudit(
        Tables.load(s, dir, "events")
          .withColumn("day",
            datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
              .cast("long"))
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "event_type", "day", "cents", tNum = 1L, tDen = 100L)
      .orderBy(col("event_type"))

  /** Exact nearest-rank quantiles under the gate (q272): the per-type
    * p50/p90/p99 cent report
    * ([[graft.functions.RobustStats.nearestRankQuantiles]]) — no
    * sketch, no interpolation, the value AT the ceil(p·n) order
    * statistic; a rank convention slip (floor, 0-based, ties), a
    * wrong n, or sketch drift each move specific cells. */
  def nearestRankQuantilesQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.RobustStats.nearestRankQuantiles(
        Tables.load(s, dir, "events")
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "event_type", "cents", Seq((1L, 2L), (9L, 10L), (99L, 100L)))
      .orderBy(col("event_type"), col("p_num"))

  /** KLL quantile monitor under the gate (q285): the per-type cent
    * p50/p90/p99 served from the bounded-RANK-error sketch
    * ([[graft.functions.Sketches.kllSketch]], k = 256 — the
    * high-cardinality companion the portable bottom-K-by-hash sketch
    * saturates into a value histogram on). The sketch summary is
    * order-dependent (inherent to compaction sketches), so the gate
    * asserts the ACCURACY CONTRACT in-process: for every (type, p) the
    * estimate's exact rank interval [cnt_lt+1, cnt_le] must intersect
    * [⌈p·n⌉ − ε·n, ⌈p·n⌉ + ε·n] at ε = 2/100, checked in exact integer
    * arithmetic against the raw rows — and the oracle restates the
    * EXACT nearest-rank quantiles (the q272 machinery) plus the
    * always-true contract flag. A sketch whose error crosses the fence
    * fails the require loudly before the oracle ever runs. */
  def kllMonitorQ(s: SparkSession, dir: String): DataFrame = {
    val ps = Seq((1L, 2L), (9L, 10L), (99L, 100L))
    val e = Tables.load(s, dir, "events")
      .select(col("event_type").as("g"),
        floor(col("value") * 100).cast("long").as("v"))
    val sk = e.groupBy(col("g"))
      .agg(graft.functions.Sketches.kllSketch(col("v"), 256).as("sk"))
      .withColumn("n", graft.functions.Sketches.kllMass(col("sk")))
    val est = sk.select(col("g") +: col("n") +: ps.map { case (pn, pd) =>
      graft.functions.Sketches.kllQuantile(col("sk"), col("n"), pn, pd)
        .as(s"q_${pn}_$pd") }: _*)
      .select(col("g"), col("n"), expr(
        s"stack(${ps.size}, " + ps.map { case (pn, pd) =>
          s"${pn}L, ${pd}L, q_${pn}_$pd" }.mkString(", ") +
        ") AS (p_num, p_den, q_est)"))
    val checks = est.join(e, Seq("g"))
      .groupBy(col("g"), col("p_num"), col("p_den"), col("n"), col("q_est"))
      .agg(count(when(col("v") < col("q_est"), 1)).as("cnt_lt"),
        count(when(col("v") <= col("q_est"), 1)).as("cnt_le"))
      .select(col("g"), col("p_num"), col("p_den"),
        // target = ceil(p·n); eps = ceil(2n/100); the estimate's rank
        // interval must intersect [target − eps, target + eps]
        expr("(p_num * n + p_den - 1) div p_den").as("target"),
        expr("(2 * n + 99) div 100").as("eps"),
        col("cnt_lt"), col("cnt_le"))
      .withColumn("within_eps",
        col("cnt_lt") + 1 <= col("target") + col("eps") &&
          col("cnt_le") >= col("target") - col("eps"))
    val rows = checks.collect()
    require(rows.nonEmpty && rows.forall(_.getAs[Boolean]("within_eps")),
      "kllMonitorQ: sketch rank error crossed the 2% fence: " +
        rows.filterNot(_.getAs[Boolean]("within_eps")).mkString("; "))
    import s.implicits._
    val flags = rows.toSeq.map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getAs[Boolean]("within_eps")))
      .toDF("event_type", "p_num", "p_den", "within_eps")
    graft.functions.RobustStats.nearestRankQuantiles(
        e.withColumnRenamed("g", "event_type")
          .withColumnRenamed("v", "cents"), "event_type", "cents", ps)
      .join(flags, Seq("event_type", "p_num", "p_den"))
      .select(col("event_type"), col("n"), col("p_num"), col("p_den"),
        col("q_value"), col("within_eps"))
      .orderBy(col("event_type"), col("p_num"))
  }

  /** Log2 histogram under the gate (q273): the per-type cent
    * distribution in power-of-two buckets
    * ([[graft.operators.Profiling.log2Histogram]]) — cents span
    * buckets ~5–14 with varying counts and exact min/max per cell, so
    * the binary-length bucket rule and the boundary values (2^k −
    * 1 vs 2^k) discriminate. */
  def log2HistogramQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.log2Histogram(
        Tables.load(s, dir, "events")
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "event_type", "cents")
      .orderBy(col("event_type"), col("bucket"))

  /** Exact day-over-day retention under the gate (q275): the q249
    * bitmap words AND-merged across consecutive days
    * ([[graft.functions.Bitmap.jaccardReport]]) — |users_d ∩
    * users_d+1| and the Jaccard in ppm from word popcounts, never a
    * user-row intersection join; the oracle recomputes the overlap as
    * the exact distinct self-join. Overlaps vary per pair (~77–81% at
    * sf0.01), so a word misalignment, an OR-for-AND slip, or a
    * popcount-of-coalesce bug each move cells. */
  def bitmapRetentionQ(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.load(s, dir, "events")
      .select(datediff(col("ts").cast("date"),
          lit("1970-01-01").cast("date")).cast("long").as("day"),
        col("user_id"))
    val words = graft.functions.Bitmap.bitmaps(du, "day", "user_id")
    val days = du.select(col("day")).distinct()
    val paired = days.as("d")
      .join(days.as("e"), col("e.day") === col("d.day") + 1)
      .select(col("d.day").as("day"))
    graft.functions.Bitmap.jaccardReport(
        words, words.withColumn("day", col("day") - 1), "day")
      .join(paired, Seq("day"), "left_semi")
      .orderBy(col("day"))
  }

  /** TVD drift under the gate (q276): the event-type mix of the first
    * half-month vs the second, per user_id%4 cohort, with a planted
    * signup drop (1/3 of cohort-0/1 signups vanish from side B)
    * through [[graft.functions.Drift.tvdDrift]] at tvd ≥ 3/100 — the
    * planted cohorts read ~0.058–0.064, natural noise 0.017–0.040, so
    * the verdict splits 3/1 and every |cross| term rides the row. */
  def tvdDriftQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select((col("user_id") % 4).as("cohort"), col("event_type"),
        col("event_id"),
        (dayofmonth(col("ts").cast("date")) <= 15).as("is_a"))
    val b = e.filter(!col("is_a"))
      .filter(!(col("event_type") === "signup" && col("cohort") <= 1 &&
        col("event_id") % 3 === 0))
    graft.functions.Drift.tvdDrift(e.filter(col("is_a")), b,
        "cohort", "event_type", tNum = 3L, tDen = 100L)
      .orderBy(col("cohort"), col("event_type"))
  }

  /** Interval intersection under the gate (q277): per user, the
    * microseconds where an even-event interval (40 min) and an
    * odd-event interval (30 min) were BOTH active
    * ([[graft.operators.TimeSeries.intervalIntersection]]) — bucketed
    * overlap join, clip to [max(s), min(e)), island sweep. 127 users
    * with 1–4 islands at sf0.01; a clip-bound swap, an inclusive/
    * half-open slip, or double-counted overlapping clips each move
    * covered_us. */
  def intervalIntersectionQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t"))
    val a = e.filter(col("event_id") % 2 === 0)
      .select(col("user_id"), col("event_id"), col("t").as("s"),
        (col("t") + 2400000000L).as("e"))
    val b = e.filter(col("event_id") % 2 === 1)
      .select(col("user_id"), col("event_id"), col("t").as("s"),
        (col("t") + 1800000000L).as("e"))
    graft.operators.TimeSeries.intervalIntersection(a, b, "user_id",
        "event_id", "s", "e", bucketUs = 3600000000L)
      .orderBy(col("user_id"))
  }

  /** Incremental join-view maintenance under the gate (q278): the
    * revenue-per-customer view of orders⋈lineitem maintained under an
    * append-only wave on BOTH sides (¼ of orders and ⅓ of lineitems
    * arrive as the delta) via the bilinear delta rule
    * ([[graft.operators.ViewMaintain.maintainJoinSum]]); the folded
    * standing aggregate row-matches the one-shot re-join over the full
    * tables — ViewMaintainSpec's pin (a dropped ΔA⋈ΔB term, a
    * stale-side mixup, or double-counting the overlap each break whole
    * rows), and the ORACLE IS the one-shot join, so a divergent fold
    * still fails the gate without re-running the re-join in the timed
    * region. */
  def joinViewMaintainQ(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val l = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("o_orderkey"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents"))
    val (aOld, dA) = (o.filter(col("o_orderkey") % 4 =!= 0),
      o.filter(col("o_orderkey") % 4 === 0))
    val (bOld, dB) = (l.filter(col("o_orderkey") % 3 =!= 0),
      l.filter(col("o_orderkey") % 3 === 0))
    val standing = graft.operators.ViewMaintain.joinSum(
      aOld, bOld, "o_orderkey", "o_custkey", "cents")
    graft.operators.ViewMaintain.maintainJoinSum(
        standing, aOld, dA, bOld, dB, "o_orderkey", "o_custkey", "cents")
      .select(col("o_custkey"), col("n_items"), col("total"))
      .orderBy(col("o_custkey"))
  }

  /** Basket co-occurrence lift under the gate (q281): event types
    * co-occurring within (user, day) baskets
    * ([[graft.operators.Baskets.pairLift]]) at lift ≥ 9/10 — the ten
    * pair lifts span 0.856–0.927 at sf0.01, so the fence splits 5/5
    * and the exact ppm, both marginals, and the basket total all ride
    * each row. */
  def basketLiftQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Baskets.pairLift(
        Tables.load(s, dir, "events")
          .select(col("user_id"),
            datediff(col("ts").cast("date"),
              lit("1970-01-01").cast("date")).cast("long").as("day"),
            col("event_type")),
        Seq("user_id", "day"), "event_type", tNum = 9L, tDen = 10L)
      .orderBy(col("item_a"), col("item_b"))

  /** Join-cardinality pre-flight under the gate (q265): the exact
    * output size and hot-key profile of the lineitem⋈lineitem
    * self-join on l_partkey, computed from two distinct-key-sized
    * aggregates ([[graft.operators.JoinAudit.joinCardinality]]) — the
    * "would this join explode" check a planner runs before shipping a
    * join at scale. Per-key counts at sf0.01 span 20–49, so contrib,
    * total and ppm all discriminate; a count-vs-contrib swap, a lost
    * key, or float ppm rounding each move cells. */
  def joinCardinalityQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.JoinAudit.joinCardinality(
      Tables.load(s, dir, "lineitem"), Tables.load(s, dir, "lineitem"),
      "l_partkey", "l_partkey", topK = 15)

  /** Event-time lateness audit under the gate (q245): arrival order is
    * event_id; event time is ts pulled back by a planted
    * (event_id % 7)·30 min jitter — the disorder a real ingest shows
    * and the synthetic stream lacks — through
    * [[graft.operators.TimeSeries.latenessAudit]]. ~5 % of rows run
    * late with per-user counts and max-lateness varying, so a
    * high-water mark that includes the current row, a ≤ vs <, or a
    * lateness measured against the wrong mark all move cells. */
  def latenessQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.latenessAudit(
        Tables.load(s, dir, "events")
          .withColumn("et_us",
            unix_micros(col("ts")) - (col("event_id") % 7) * 1800000000L),
        "user_id", "event_id", "et_us", "event_id")
      .orderBy(col("user_id"))

  /** Per-group exact OLS trend under the gate (q246): daily cent
    * values regressed on the re-based day per event type
    * ([[graft.operators.TimeSeries.groupTrend]]) — the synthetic mix
    * puts signup falling while the rest rise at sf0.01, so the
    * cross-multiplied verdict splits, and all five sufficient sums
    * ride the row. */
  def groupTrendQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.groupTrend(
        Tables.load(s, dir, "events")
          .withColumn("day",
            datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
              .cast("long"))
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "event_type", "day", "cents")
      .orderBy(col("event_type"))

  /** Sliding-window distinct users under the gate (q248): per observed
    * day, the 7-day-trailing distinct-user HLL register file (p = 4)
    * via [[graft.operators.TimeSeries.slidingDistinctRegisters]] —
    * register-exact against the oracle's from-scratch rebuild over
    * each day's actual trailing window, so an off-by-one window edge,
    * a max-merge slip, or a day replicated to the wrong targets all
    * move registers. */
  def slidingDistinctQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.slidingDistinctRegisters(
        Tables.load(s, dir, "events")
          .withColumn("day",
            datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
              .cast("long")),
        "day", "user_id", windowDays = 7, p = 4)
      .orderBy(col("day"), col("bucket"))

  /** Exact bitmap distinct under the gate (q249): per-event-type user
    * bitmaps over the 1/4 event slice ([[graft.functions.Bitmap]]) —
    * the raw 63-bit bucket words ride the output (13 distinct
    * patterns at sf0.01), so one wrong bit anywhere breaks the hash;
    * popcounts are emitted per row and must sum to the exact distinct
    * count (spec-pinned against countDistinct). */
  def bitmapDistinctQ(s: SparkSession, dir: String): DataFrame = {
    val bm = graft.functions.Bitmap.bitmaps(
      Tables.load(s, dir, "events").filter(col("event_id") % 4 === 0),
      "event_type", "user_id")
    bm.withColumn("n_bits", bit_count(col("bits")).cast("long"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** A/B conversion audit under the gate (q251): users split into
    * three hash variants, conversion = any purchase over 150, shift
    * fence 5 pp vs variant 0 ([[graft.operators.Experiment
    * .conversionAudit]]) — at sf0.01 variant 1 (21/50, −6 pp) trips
    * the fence while variant 2 (22/50, −4 pp) stays inside, so both
    * verdict paths and the exact diff rationals are value-checked. */
  def abAuditQ(s: SparkSession, dir: String): DataFrame = {
    val units = Tables.load(s, dir, "events")
      .groupBy(col("user_id"), (col("user_id") % 3).as("variant"))
      .agg(max(when(col("event_type") === "purchase" &&
        col("value") > 150, 1L).otherwise(0L)).as("conv"))
      .withColumn("converted", col("conv") === 1L)
    graft.operators.Experiment.conversionAudit(units, "variant",
        "converted", control = "0", tolPpm = 50000)
      .orderBy(col("variant"))
  }

  /** Winsorized sums under the gate (q252): event cents clamped to the
    * exact p10/p90 order statistics per type
    * ([[graft.functions.RobustStats.winsorizedSum]]) — clamps, raw and
    * winsorized sums all ride the row, so a rank convention slip
    * (floor vs ceil), a clamp taken from the wrong side, or a
    * manufactured mid-value each move specific cells. */
  def winsorizeQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.RobustStats.winsorizedSum(
        Tables.load(s, dir, "events")
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "event_type", "cents", loQNum = 1, hiQNum = 9, qDen = 10)
      .orderBy(col("event_type"))

  /** Categorical profile under the gate (q253): order status per
    * priority ([[graft.operators.Profiling.categoricalProfile]]) —
    * the mode FLIPS between priorities (O for urgent, P elsewhere at
    * sf0.01) and the exact Gini rationals vary per row, so the
    * (count, value) argmax order and the Σc² term are both
    * value-checked. */
  def categoricalProfileQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.categoricalProfile(
        Tables.load(s, dir, "orders"), "o_orderpriority", "o_orderstatus")
      .orderBy(col("o_orderpriority"))

  /** Conversion latency under the gate (q254): view→purchase time per
    * user-hash cohort ([[graft.operators.Funnels.conversionLatency]])
    * — the doubled-median convention over exact microsecond deltas,
    * plus min/max envelopes; a funnel step taken non-strictly, a
    * median rank off by one, or a cohort joined per event instead of
    * per user all move cells. */
  def conversionLatencyQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnels.conversionLatency(
        Tables.load(s, dir, "events")
          .withColumn("k", col("user_id") % 5),
        "user_id", "ts", "event_type", "view", "purchase", "k")
      .orderBy(col("k"))

  /** Exact DAU/WAU under the gate (q256): daily and 7-day-trailing
    * distinct users per observed day via bitmap OR-merges
    * ([[graft.operators.TimeSeries.slidingDistinctExact]]) — the
    * oracle is PLAIN `count(DISTINCT …)`, so the whole bitmap path
    * (placement, replication, OR idempotence, popcount) must land on
    * the true numbers. Complements q248's sketched sibling. */
  def dauWauQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.slidingDistinctExact(
        Tables.load(s, dir, "events")
          .withColumn("day",
            datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
              .cast("long")),
        "day", "user_id", windowDays = 7)
      .orderBy(col("day"))

  /** Key-skew audit over the events user key — measure BEFORE salting:
    * the hottest keys, their table share, the uniform-key ratio, and the
    * salt factor for a 1000-rows-per-task target (small target so the
    * factor is exercised at test scale; at 100 TB the default 4M target
    * applies). One partial-agg shuffle; totals broadcast onto top-k. */
  def skewAuditQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.SkewAudit.keySkewReport(
      Tables.load(s, dir, "events"), Seq("user_id"), k = 20,
      targetRowsPerTask = 1000L)

  /** Ordered funnel conversion under the gate (q186): the 4-step
    * view→click→signup→purchase funnel through
    * [[graft.operators.Funnels.funnel]] over a deterministic 1/37
    * event slice (the full stream is so dense every user completes
    * every step — the slice makes the counts discriminate: a
    * non-strict comparison or a min-vs-any drift changes them). The
    * oracle restates the chained per-user MIN aggregation step by
    * step. */
  def funnelQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnels.funnel(
        Tables.load(s, dir, "events").filter(col("event_id") % 37 === 0),
        "user_id", "ts", "event_type",
        Seq("view", "click", "signup", "purchase"))
      .withColumn("step_idx", col("step_idx").cast("long"))
      .orderBy(col("step_idx"))

  /** Windowed funnel conversion under the gate (q192): the q186 funnel
    * with BOTH conversion windows bound — each step within 5 days of
    * the previous AND within 12 days of step 1, first-touch greedy
    * semantics ([[graft.operators.Funnels.funnel]] with
    * `maxStepGapSec`/`maxTotalSec`). Runs on the denser 1/7 slice so
    * every step keeps a non-zero, window-discriminating count at the
    * gate SF (122→30→8→3 at sf0.01 — the unwindowed chain converts
    * far more). The oracle restates the greedy chain with both
    * interval bounds at every hop. */
  def windowedFunnelQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnels.funnel(
        Tables.load(s, dir, "events").filter(col("event_id") % 7 === 0),
        "user_id", "ts", "event_type",
        Seq("view", "click", "signup", "purchase"),
        maxStepGapSec = Some(432000L), maxTotalSec = Some(1036800L))
      .withColumn("step_idx", col("step_idx").cast("long"))
      .orderBy(col("step_idx"))

  /** Cohort retention matrix under the gate (q187): users bucketed by
    * first-seen week (integer weeks since 2024-01-01 — no engine
    * week-start semantics), counted once per active week, through
    * [[graft.operators.Funnels.cohortRetention]] on the same 1/37
    * slice. The oracle restates first-week MIN + distinct (user,
    * week) + the (cohort, offset) rollup. */
  def cohortQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.Funnels.cohortRetention(
        Tables.load(s, dir, "events").filter(col("event_id") % 37 === 0),
        "user_id", "ts", "2024-01-01")
      .orderBy(col("cohort_week"), col("week_offset"))

  /** k-anonymity suppression under the gate (q188): quasi-identifiers
    * (nation, 1000-wide acctbal band) through
    * [[graft.functions.Privacy.kAnonymizeSuppress]] at k=10 — groups
    * of fewer than 10 customers release as `*`. At sf0.01 the band
    * grid has both sides of the threshold (258 under-k groups), so a
    * count drift or an off-by-one on `< k` flips real rows. The
    * oracle restates the exact group count and the CASE. */
  def kAnonymizeQ(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.load(s, dir, "customer").select(
      col("c_custkey"),
      col("c_nationkey").cast("long").as("nation"),
      graft.functions.Privacy.generalizeBand(col("c_acctbal"), 1000)
        .as("bal_band"))
    graft.functions.Privacy.kAnonymizeSuppress(g, Seq("nation", "bal_band"),
        k = 10)
      .orderBy(col("c_custkey"))
  }

  /** l-diversity audit under the gate (q194): the homogeneity check
    * k-anonymity misses, over a candidate release of customers
    * generalized to (nation, 100-wide acctbal band) with c_mktsegment
    * as the sensitive column — [[graft.functions.Privacy
    * .lDiversityAudit]] at l=3. The narrow bands make the audit
    * discriminate at every tested SF (1130 of 1163 groups violate at
    * sf0.01, 606 of 2742 at sf0.1): an off-by-one on `< l`, a
    * non-distinct count, or a mis-exempted `*` group flips rows. */
  def lDiversityQ(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.load(s, dir, "customer").select(
      col("c_custkey"),
      col("c_mktsegment"),
      col("c_nationkey").cast("long").as("nation"),
      graft.functions.Privacy.generalizeBand(col("c_acctbal"), 100)
        .as("bal_band"))
    graft.functions.Privacy.lDiversityAudit(g, Seq("nation", "bal_band"),
        "c_mktsegment", l = 3)
      // the audit reports string-typed quasi columns (the `*` group
      // convention); this release has no stars, so cast back for a
      // numeric total order shared with the oracle
      .select(col("nation").cast("long").as("nation"),
        col("bal_band").cast("long").as("bal_band"),
        col("n_sensitive"), col("violating"))
      .orderBy(col("nation"), col("bal_band"))
  }

  /** t-closeness audit under the gate (q202): the skew check l-diversity
    * misses, over the (nation, 1000-wide acctbal band) release with
    * c_mktsegment sensitive — [[graft.functions.Privacy.tClosenessAudit]]
    * at t = 1/5. Group sizes of 10-60 against a ~uniform 5-segment
    * global distribution put natural sampling skew on BOTH sides of
    * 0.2, so the exact integer numerator discriminates at every tested
    * SF; the oracle rebuilds the full TVD from the group×segment grid
    * (the naive formulation) while the operator never materializes
    * absent pairs — agreement pins the absent-mass identity too. */
  def tClosenessQ(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.load(s, dir, "customer").select(
      col("c_custkey"),
      col("c_mktsegment"),
      col("c_nationkey").cast("long").as("nation"),
      graft.functions.Privacy.generalizeBand(col("c_acctbal"), 1000)
        .as("bal_band"))
    graft.functions.Privacy.tClosenessAudit(g, Seq("nation", "bal_band"),
        "c_mktsegment", tNum = 1, tDen = 5)
      .select(col("nation").cast("long").as("nation"),
        col("bal_band").cast("long").as("bal_band"),
        col("group_size"), col("tvd_num"), col("tvd_den"), col("violating"))
      .orderBy(col("nation"), col("bal_band"))
  }

  /** Incremental aggregate maintenance under the gate (q190): lineitem
    * splits into a base (linenumber ≤ 3) and two deltas folded in one
    * at a time through [[graft.operators.AggMaintain.maintain]]; the
    * maintained per-partkey state must equal the full recompute
    * EXACTLY — the oracle IS the one-shot group-by (decimal sums are
    * order-insensitive, so incremental folding is bit-identical). */
  def aggMaintainQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AggMaintain
    val li = Tables.load(s, dir, "lineitem")
    val base = AggMaintain.state(
      li.filter(col("l_linenumber") <= 3), "l_partkey", "l_extendedprice")
    val folded = Seq(col("l_linenumber") === 4, col("l_linenumber") >= 5)
      .foldLeft(base) { (st, pred) =>
        AggMaintain.maintain(st, li.filter(pred), "l_partkey",
          "l_extendedprice")
      }
    folded.select(col("l_partkey"), col("cnt"),
        col("sum_v").cast("double").as("sum_v"), col("min_v"), col("max_v"))
      .orderBy(col("l_partkey"))
  }

  /** Incremental QUANTILE-sketch maintenance under the gate (q237):
    * the per-event-type cent-value histogram sketch (capacity 256,
    * SATURATED — thousands of distinct cents per type), maintained
    * through a three-way event split via [[graft.operators.AggMaintain
    * .maintainQuantiles]]. The sketch is a pure set function with
    * additive weights, so the maintained entries must be IDENTICAL to
    * the one-shot sketch — the oracle restates exactly that: the 256
    * smallest-hash distinct values per type with their FULL-table
    * counts. A batch-local trim that drops a value before its later
    * batches arrive, or a weight that fails to re-sum, breaks rows. */
  def quantileMaintainQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AggMaintain
    val e = Tables.load(s, dir, "events")
      .withColumn("cents", floor(col("value") * 100).cast("long"))
    val base = AggMaintain.quantileState(
      e.filter(col("event_id") % 3 === 0), "event_type", "cents", 256)
    val folded = Seq(col("event_id") % 3 === 1, col("event_id") % 3 === 2)
      .foldLeft(base) { (st, pred) =>
        AggMaintain.maintainQuantiles(st, e.filter(pred), "event_type",
          "cents", 256)
      }
    folded
      .select(col("event_type"), explode(col("q_sketch")).as("e"))
      .select(col("event_type"), col("e.value").as("value"),
        col("e.count").as("count"))
      .orderBy(col("event_type"), col("value"))
  }

  /** Incremental DISTINCT-count maintenance under the gate (q193):
    * distinct parts per supplier as an HLL register file (p=4, m=16),
    * maintained through the same base/delta split as q190 via
    * [[graft.operators.AggMaintain.maintainDistinct]] — register
    * max-merge is an idempotent commutative monoid, so the maintained
    * registers must be BIT-IDENTICAL to the one-shot recompute, which
    * is exactly what the oracle states: every register derived from
    * the md5 hash60 of the part key over the FULL table (bucket = top
    * 4 bits, rho = 57 − bitlength of the 56-bit remainder), unseen
    * buckets 0 via the supplier × bucket grid. */
  def distinctMaintainQ(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AggMaintain
    val li = Tables.load(s, dir, "lineitem")
    val base = AggMaintain.distinctState(
      li.filter(col("l_linenumber") <= 3), "l_suppkey", "l_partkey", p = 4)
    val folded = Seq(col("l_linenumber") === 4, col("l_linenumber") >= 5)
      .foldLeft(base) { (st, pred) =>
        AggMaintain.maintainDistinct(st, li.filter(pred), "l_suppkey",
          "l_partkey", p = 4)
      }
    folded
      .select(col("l_suppkey"),
        posexplode(col("hll_regs")).as(Seq("bucket", "register")))
      .select(col("l_suppkey"), col("bucket").cast("long").as("bucket"),
        col("register").cast("long").as("register"))
      .orderBy(col("l_suppkey"), col("bucket"))
  }

  /** One column's stats row restated (q81's KMV pattern per column). */
  private def statsColSql(c: String): String =
    s"""SELECT '$c' AS column_name,
       | (SELECT count(*) FROM lineitem) AS n_rows,
       | (SELECT count(*) FROM lineitem WHERE $c IS NULL) AS n_nulls,
       | (SELECT CASE WHEN min(m) < 256 THEN min(m)::DOUBLE
       |   ELSE CAST(255 AS DOUBLE) /
       |     (max(CASE WHEN rn = 256 THEN h END)::DOUBLE
       |       / 1152921504606846976.0::DOUBLE) END
       |  FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn,
       |               count(*) OVER () AS m
       |        FROM (SELECT DISTINCT ('0x' ||
       |                substring(md5(CAST($c AS VARCHAR)), 1, 15))::BIGINT
       |                AS h
       |              FROM lineitem WHERE $c IS NOT NULL))) AS ndv_est,
       | (SELECT CAST(min($c) AS VARCHAR) FROM lineitem) AS min_val,
       | (SELECT CAST(max($c) AS VARCHAR) FROM lineitem) AS max_val""".stripMargin

  val gates: Seq[Gate] = Seq(
    // chained per-user MINs, strict > at every hop, restated step by
    // step; counts are over the per-user frame, not the events
    Gate("q186_funnel", funnelQ _,
      """WITH ev AS (SELECT * FROM events WHERE event_id % 37 = 0),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM ev e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM ev e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'signup' AND e.ts > s2.t2 GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM ev e
        |       JOIN s3 ON e.user_id = s3.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step_name,
        |       (SELECT count(*) FROM s1) AS users_reached
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'signup', (SELECT count(*) FROM s3)
        |UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)
        |ORDER BY step_idx""".stripMargin),
    // the greedy windowed chain restated hop by hop: strict >, step gap
    // vs the previous MIN, total window vs the carried step-1 anchor
    // (t1 rides each CTE via any_value — functionally dependent on user)
    Gate("q192_windowed_funnel", windowedFunnelQ _,
      """WITH ev AS (SELECT * FROM events WHERE event_id % 7 = 0),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2, any_value(s1.t1) AS t1
        |       FROM ev e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 432000 SECOND
        |         AND e.ts <= s1.t1 + INTERVAL 1036800 SECOND GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3, any_value(s2.t1) AS t1
        |       FROM ev e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'signup' AND e.ts > s2.t2
        |         AND e.ts <= s2.t2 + INTERVAL 432000 SECOND
        |         AND e.ts <= s2.t1 + INTERVAL 1036800 SECOND GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(e.ts) AS t4
        |       FROM ev e JOIN s3 ON e.user_id = s3.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s3.t3
        |         AND e.ts <= s3.t3 + INTERVAL 432000 SECOND
        |         AND e.ts <= s3.t1 + INTERVAL 1036800 SECOND GROUP BY 1)
        |SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step_name,
        |       (SELECT count(*) FROM s1) AS users_reached
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT 3, 'signup', (SELECT count(*) FROM s3)
        |UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s4)
        |ORDER BY step_idx""".stripMargin),
    // first-week MIN, distinct (user, week), (cohort, offset) rollup —
    // week = floor(days-since-epochDay / 7), identical double division
    Gate("q187_cohort", cohortQ _,
      """WITH ev AS (SELECT * FROM events WHERE event_id % 37 = 0),
        |w AS (SELECT user_id,
        |  CAST(floor(date_diff('day', DATE '2024-01-01',
        |    CAST(ts AS DATE)) / 7.0) AS BIGINT) AS wk FROM ev),
        |f AS (SELECT user_id, min(wk) AS cohort_week FROM w GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, wk FROM w)
        |SELECT f.cohort_week, a.wk - f.cohort_week AS week_offset,
        |       count(*) AS n_users
        |FROM a JOIN f USING (user_id) GROUP BY 1, 2
        |ORDER BY cohort_week, week_offset""".stripMargin),
    // exact group count over the string-normalized quasi tuple, CASE
    // to '*' strictly under k=10
    Gate("q188_k_anonymize", kAnonymizeQ _,
      """WITH g AS (SELECT c_custkey,
        |  CAST(c_nationkey AS VARCHAR) AS nation,
        |  CAST(CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS VARCHAR)
        |    AS bal_band
        | FROM customer),
        |c AS (SELECT nation, bal_band, count(*) AS n FROM g GROUP BY 1, 2)
        |SELECT g.c_custkey,
        | CASE WHEN c.n < 10 THEN '*' ELSE g.nation END AS nation,
        | CASE WHEN c.n < 10 THEN '*' ELSE g.bal_band END AS bal_band
        |FROM g JOIN c USING (nation, bal_band)
        |ORDER BY c_custkey""".stripMargin),
    // exact distinct-sensitive count per quasi group, violating
    // strictly under l=3 with the all-star group exempt (no such group
    // in this raw release — the exemption still rides the CASE)
    Gate("q194_l_diversity", lDiversityQ _,
      """WITH g AS (SELECT c_custkey, c_mktsegment,
        |  CAST(c_nationkey AS VARCHAR) AS nation,
        |  CAST(CAST(floor(c_acctbal / 100) * 100 AS BIGINT) AS VARCHAR)
        |    AS bal_band
        | FROM customer)
        |SELECT CAST(nation AS BIGINT) AS nation,
        | CAST(bal_band AS BIGINT) AS bal_band,
        | count(DISTINCT c_mktsegment) AS n_sensitive,
        | (count(DISTINCT c_mktsegment) < 3
        |   AND NOT (nation = '*' AND bal_band = '*')) AS violating
        |FROM g GROUP BY nation, bal_band
        |ORDER BY 1, 2""".stripMargin),
    // the naive full-grid TVD: every (group, segment) pair including
    // absent ones, |n_gs*N - n_s*n_g| summed, verdict at t = 1/5
    Gate("q202_t_closeness", tClosenessQ _,
      """WITH g AS (SELECT c_custkey, c_mktsegment,
        |  CAST(c_nationkey AS BIGINT) AS nation,
        |  CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS bal_band
        | FROM customer),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM g),
        |gdist AS (SELECT c_mktsegment AS sv, CAST(count(*) AS BIGINT) AS n_s
        | FROM g GROUP BY 1),
        |grp AS (SELECT nation, bal_band, CAST(count(*) AS BIGINT) AS n_g
        | FROM g GROUP BY 1, 2),
        |gsv AS (SELECT nation, bal_band, c_mktsegment AS sv,
        |  CAST(count(*) AS BIGINT) AS n_gs FROM g GROUP BY 1, 2, 3),
        |terms AS (SELECT grp.nation, grp.bal_band, grp.n_g,
        |  abs(COALESCE(gsv.n_gs, 0) * tot.n - gdist.n_s * grp.n_g) AS term
        | FROM grp CROSS JOIN gdist CROSS JOIN tot
        | LEFT JOIN gsv ON gsv.nation = grp.nation
        |  AND gsv.bal_band = grp.bal_band AND gsv.sv = gdist.sv)
        |SELECT t.nation, t.bal_band, t.n_g AS group_size,
        | CAST(sum(t.term) AS BIGINT) AS tvd_num,
        | CAST(2 * t.n_g * (SELECT n FROM tot) AS BIGINT) AS tvd_den,
        | (sum(t.term) * 5 > 2 * t.n_g * (SELECT n FROM tot)) AS violating
        |FROM terms t GROUP BY t.nation, t.bal_band, t.n_g
        |ORDER BY t.nation, t.bal_band""".stripMargin),
    // maintained HLL registers must be bit-identical to the one-shot
    // recompute: every register restated from the md5 hash60 of the
    // part key over the FULL lineitem (p=4: bucket = h // 2^56, rho =
    // 57 - bitlength(h % 2^56), 57 for an all-zero tail), zeros via
    // the supplier x bucket grid
    // maintained sketch == one-shot: the 256 smallest-hash distinct
    // cents per type with exact full-table counts
    Gate("q237_quantile_maintain", quantileMaintainQ _,
      """WITH v AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT)
        |    AS x FROM events),
        |vc AS (SELECT event_type, x, CAST(count(*) AS BIGINT) AS c
        |       FROM v GROUP BY event_type, x),
        |h AS (SELECT event_type, x, c,
        |  ('0x' || substring(md5(CAST(x AS VARCHAR)), 1, 15))::BIGINT
        |    AS hv FROM vc),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY hv) AS r FROM h)
        |SELECT event_type, x AS value, c AS count FROM rk
        |WHERE r <= 256 ORDER BY event_type, value""".stripMargin),
    Gate("q193_distinct_maintain", distinctMaintainQ _,
      """WITH h AS (SELECT DISTINCT l_suppkey,
        |  ('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
        |    ::BIGINT AS h
        | FROM lineitem),
        |rr AS (SELECT l_suppkey, h // 72057594037927936 AS bucket,
        |  CASE WHEN h % 72057594037927936 = 0 THEN 57
        |       ELSE 57 - length(bin(h % 72057594037927936)) END AS rho
        | FROM h),
        |regs AS (SELECT l_suppkey, bucket,
        |  CAST(max(rho) AS BIGINT) AS register
        | FROM rr GROUP BY 1, 2),
        |grid AS (SELECT s.l_suppkey, b.bucket
        |  FROM (SELECT DISTINCT l_suppkey FROM lineitem) s,
        |       (SELECT unnest(range(0, 16)) AS bucket) b)
        |SELECT g.l_suppkey, CAST(g.bucket AS BIGINT) AS bucket,
        | coalesce(r.register, 0) AS register
        |FROM grid g LEFT JOIN regs r
        |  ON g.l_suppkey = r.l_suppkey AND g.bucket = r.bucket
        |ORDER BY g.l_suppkey, g.bucket""".stripMargin),
    // the invariant IS the oracle: maintained state must equal the
    // one-shot recompute (decimal sum exact under any fold order)
    Gate("q190_agg_maintain", aggMaintainQ _,
      """SELECT l_partkey, count(*) AS cnt,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(38,2))) AS DOUBLE)
        |   AS sum_v,
        | min(l_extendedprice) AS min_v, max(l_extendedprice) AS max_v
        |FROM lineitem GROUP BY 1 ORDER BY l_partkey""".stripMargin),
    // the estimator restated verbatim: per-side bottom-256 sketches,
    // bottom-256 of their union, membership Jaccard, J x est_union -
    // plus the exact distinct intersection
    Gate("q121_join_estimate", joinEstimateQ _,
      """WITH ha AS (SELECT DISTINCT ('0x' ||
        |  substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM orders),
        |sa AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h)
        |  AS rn FROM ha) WHERE rn <= 256),
        |hb AS (SELECT DISTINCT ('0x' ||
        |  substring(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT AS h
        | FROM customer),
        |sb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h)
        |  AS rn FROM hb) WHERE rn <= 256),
        |su AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h)
        |  AS rn FROM (SELECT h FROM sa UNION SELECT h FROM sb))
        | WHERE rn <= 256),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS sz, max(h) AS hmax
        |      FROM su),
        |i AS (SELECT CAST(count(*) AS BIGINT) AS ni
        |      FROM su JOIN sa USING (h) JOIN sb USING (h)),
        |x AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_intersection
        |      FROM (SELECT DISTINCT o_custkey AS k FROM orders)
        |      JOIN (SELECT DISTINCT c_custkey AS k FROM customer)
        |      USING (k)),
        |e AS (SELECT
        |  CASE WHEN m.sz < 256 THEN m.sz::DOUBLE
        |       ELSE CAST(255 AS DOUBLE) /
        |         (m.hmax::DOUBLE / 1152921504606846976.0::DOUBLE) END
        |    AS est_union,
        |  i.ni::DOUBLE / m.sz::DOUBLE AS est_jaccard
        | FROM m, i)
        |SELECT e.est_union, e.est_jaccard,
        | e.est_jaccard * e.est_union AS est_intersection,
        | x.n_exact_intersection
        |FROM e, x ORDER BY est_union""".stripMargin),
    // typed bounds, per-column KMV NDV (q81's pattern), one UNION ALL
    // branch per column
    Gate("q120_table_stats", tableStatsQ _,
      (Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_linestatus")
        .map(statsColSql).mkString("\nUNION ALL\n") +
        "\nORDER BY column_name")),
    // the identical double chains: bucket = least(floor((v-lo)*16/(hi-lo)),
    // 15); bounds = lo + bucket*(hi-lo)/16
    Gate("q159_histogram", histogramQ _,
      """WITH b AS (SELECT min(l_extendedprice) AS lo,
        |                  max(l_extendedprice) AS hi FROM lineitem),
        |c AS (SELECT CAST(least(floor((l_extendedprice - lo) * 16
        |               / (hi - lo)), 15) AS BIGINT) AS bucket,
        |        count(*) AS n
        |      FROM lineitem, b
        |      WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        |a AS (SELECT unnest(range(0, 16)) AS bucket, lo, hi FROM b)
        |SELECT a.bucket,
        | lo + a.bucket * (hi - lo) / 16 AS bucket_lo,
        | lo + (a.bucket + 1) * (hi - lo) / 16 AS bucket_hi,
        | coalesce(c.n, 0) AS n_rows
        |FROM a LEFT JOIN c USING (bucket) ORDER BY bucket""".stripMargin),
    // every column's NDV sits below the sketch capacity, where KMV is
    // exactly count(distinct) for ANY hash — restated without the
    // oracle needing the sketch's hash at all
    Gate("q150_table_stats_fast", tableStatsFastQ _,
      (Seq("l_linenumber", "l_returnflag", "l_linestatus", "l_qty_int")
        .map { c =>
          s"""SELECT '$c' AS column_name,
             | (SELECT count(*) FROM li) AS n_rows,
             | (SELECT count(*) FROM li WHERE $c IS NULL) AS n_nulls,
             | (SELECT count(DISTINCT $c)::DOUBLE FROM li) AS ndv_est,
             | (SELECT CAST(min($c) AS VARCHAR) FROM li) AS min_val,
             | (SELECT CAST(max($c) AS VARCHAR) FROM li) AS max_val""".stripMargin
        }.mkString("\nUNION ALL\n")
        match { case u =>
          s"""WITH li AS (SELECT *, CAST(l_quantity AS BIGINT) AS l_qty_int
             |            FROM lineitem)
             |$u
             |ORDER BY column_name""".stripMargin
        })),
    // identical counts, shares, uniform ratios (all-double, same
    // multiply-then-divide order) and ceil salt factors
    Gate("q114_skew_audit", skewAuditQ _,
      """WITH c AS (SELECT user_id, count(*) AS cnt
        |           FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |             CAST(count(*) AS BIGINT) AS n_keys FROM c)
        |SELECT user_id, cnt,
        | cnt::DOUBLE / total::DOUBLE AS share,
        | cnt::DOUBLE * n_keys::DOUBLE / total::DOUBLE AS skew_ratio,
        | CAST(ceil(cnt::DOUBLE / 1000.0::DOUBLE) AS BIGINT) AS salt_factor
        |FROM c CROSS JOIN t
        |ORDER BY cnt DESC, user_id LIMIT 20""".stripMargin),
    Gate("q12_union_by_name", unionByNameQ _,
      """SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, CAST(NULL AS VARCHAR) AS o_orderstatus, o_totalprice
        | FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        | UNION ALL
        | SELECT o_custkey, o_orderkey, o_orderstatus, o_totalprice
        | FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00') t
        |ORDER BY o_orderkey""".stripMargin),
    Gate("q13_upsert", upsertQ _,
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY p DESC) AS rn FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS p FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'F' AS o_orderstatus,
        |   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        |   1 AS p
        |  FROM orders WHERE o_orderstatus = 'O') u) v
        |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin),
    Gate("q14_sentinel_fill", sentinelFillQ _,
      """SELECT event_id,
        | CASE WHEN event_id % 11 = 0 THEN TIMESTAMP '1900-01-01 00:00:00'
        |      ELSE date_trunc('second', ts) END AS ts,
        | CASE WHEN event_id % 3 = 0 THEN -99 ELSE user_id END AS user_id,
        | CASE WHEN event_id % 5 = 0 THEN '' ELSE event_type END AS event_type,
        | CASE WHEN event_id % 7 = 0 THEN -99.0 ELSE value END AS value
        |FROM events ORDER BY event_id""".stripMargin),
    Gate("q15_guard_amount", guardAmountQ _,
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | CASE WHEN l_linenumber % 3 = 0 THEN 0.0 ELSE l_quantity END AS amount
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q16_guard_uuid", guardUuidQ _,
      """SELECT c_custkey,
        | CASE WHEN c_custkey % 4 = 0 THEN
        |  concat_ws('-', substring(md5(CAST(c_custkey AS VARCHAR)),1,8),
        |   substring(md5(CAST(c_custkey AS VARCHAR)),9,4),
        |   substring(md5(CAST(c_custkey AS VARCHAR)),13,4),
        |   substring(md5(CAST(c_custkey AS VARCHAR)),17,4),
        |   substring(md5(CAST(c_custkey AS VARCHAR)),21,12))
        | ELSE 'N/A' END AS guarded
        |FROM customer ORDER BY c_custkey""".stripMargin),
    Gate("q17_kv_extract", kvExtractQ _,
      """SELECT o_orderkey, o_orderpriority AS fund_type
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    Gate("q18_date_coerce", dateCoerceQ _,
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | CASE WHEN l_linenumber % 4 = 0 THEN NULL ELSE l_shipdate END AS coerced
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q19_watermark", watermarkQ _,
      """WITH t AS (
        | SELECT event_id, ts - INTERVAL 6 HOUR AS local FROM events),
        |d AS (
        | SELECT event_id,
        |  CASE WHEN extract(hour FROM local) < 5
        |       THEN date_trunc('day', local) - INTERVAL 1 DAY
        |       ELSE date_trunc('day', local) END AS eff_day
        | FROM t)
        |SELECT CAST(epoch(eff_day) AS BIGINT) + 11 * 3600 AS inc_id,
        | COUNT(*) AS n, MIN(event_id) AS min_event, MAX(event_id) AS max_event
        |FROM d GROUP BY 1 ORDER BY inc_id""".stripMargin),
    Gate("q20_schema_drift", schemaDriftQ _,
      """WITH recs AS (
        | SELECT CASE WHEN event_id % 3 = 0 THEN 'k'
        |             WHEN event_id % 3 = 1 THEN 'extra,k'
        |             ELSE 'a,b' END AS keyset
        | FROM events)
        |SELECT CAST(DENSE_RANK() OVER (ORDER BY keyset) AS BIGINT) AS schema_version,
        | keyset, n FROM (SELECT keyset, COUNT(*) AS n FROM recs GROUP BY keyset) g
        |ORDER BY keyset""".stripMargin),
    Gate("q21_count_reconcile", countReconcileQ _,
      """SELECT l_orderkey AS o_orderkey, COUNT(*) AS actual_count,
        | CAST(MAX(l_linenumber) AS BIGINT) AS declared_count,
        | COUNT(*) = MAX(l_linenumber) AS count_match
        |FROM lineitem GROUP BY l_orderkey ORDER BY o_orderkey""".stripMargin),
    Gate("q45_merge_sql", mergeSqlQ _,
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        | SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY p DESC) AS rn FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS p FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'F' AS o_orderstatus,
        |   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        |   1 AS p
        |  FROM orders WHERE o_orderstatus = 'O') u) v
        |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin),
    Gate("q47_skew_join", skewJoinQ _,
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        | l_quantity, o_orderstatus
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q50_asof_join", asofJoinQ _,
      """WITH e AS (
        | SELECT event_id, user_id, date_trunc('second', ts) AS ts, value
        | FROM events),
        |probes AS (
        | SELECT event_id, user_id, ts FROM e WHERE event_id % 2 = 0),
        |quotes AS (
        | SELECT user_id, ts, max(value) AS quote FROM e
        | WHERE event_id % 2 = 1 GROUP BY user_id, ts)
        |SELECT p.event_id, p.user_id, p.ts, q.quote
        |FROM probes p ASOF LEFT JOIN quotes q
        | ON p.user_id = q.user_id AND p.ts >= q.ts
        |ORDER BY p.event_id""".stripMargin),
    Gate("q51_range_join", rangeJoinQ _,
      """WITH e AS (
        | SELECT event_id, user_id, date_trunc('second', ts) AS ts FROM events),
        |iv AS (
        | SELECT event_id AS iv_id, user_id, ts AS start_ts,
        |  ts + INTERVAL 2 HOUR AS end_ts
        | FROM e WHERE event_id % 2 = 1),
        |pt AS (SELECT event_id, user_id, ts FROM e WHERE event_id % 2 = 0)
        |SELECT iv.iv_id, pt.event_id, pt.user_id, pt.ts
        |FROM iv JOIN pt ON iv.user_id = pt.user_id
        | AND pt.ts BETWEEN iv.start_ts AND iv.end_ts
        |ORDER BY iv_id, event_id""".stripMargin),
    Gate("q198_interval_overlap", intervalOverlapQ _,
      """WITH e AS (
        | SELECT event_id, user_id, date_trunc('second', ts) AS ts FROM events),
        |a AS (
        | SELECT event_id AS a_id, user_id, ts AS a_start,
        |  ts + INTERVAL 2 HOUR AS a_end
        | FROM e WHERE event_id % 3 = 1),
        |b AS (
        | SELECT event_id AS b_id, user_id, ts AS b_start,
        |  ts + INTERVAL 45 MINUTE AS b_end
        | FROM e WHERE event_id % 3 = 2)
        |SELECT a.a_id, b.b_id, a.user_id
        |FROM a JOIN b ON a.user_id = b.user_id
        | AND a.a_start <= b.b_end AND b.b_start <= a.a_end
        |ORDER BY a_id, b_id""".stripMargin),
    Gate("q201_graph_rank", graphRankQ _, graphRankOracle(5)),
    Gate("q206_label_prop", labelPropQ _, labelPropOracle(4)),
    Gate("q215_kcore", kCoreQ _, kCoreOracle(12, 5)),
    // q214's triangle CTE normalized to the exact rational per node;
    // zero-fill for triangle-free nodes, cc_den 0 for degree-1 nodes
    Gate("q216_clustering", clusteringQ _,
      """WITH pe AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_linenumber <= 3 AND b.l_linenumber <= 3),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM pe e1 JOIN pe e2 ON e2.u = e1.v
        |  JOIN pe e3 ON e3.u = e1.u AND e3.v = e2.v),
        |pn AS (SELECT node, count(*) AS t FROM
        | (SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri) GROUP BY node),
        |deg AS (SELECT node, count(*) AS deg FROM
        | (SELECT u AS node FROM pe UNION ALL SELECT v FROM pe)
        | GROUP BY node)
        |SELECT d.node, d.deg, COALESCE(pn.t, 0) AS n_triangles,
        | COALESCE(pn.t, 0) * 2 AS cc_num,
        | d.deg * (d.deg - 1) AS cc_den
        |FROM deg d LEFT JOIN pn USING (node)
        |ORDER BY node""".stripMargin),
    // exact rational chi-squared per category: d = ref_n·C − cur_n·R in
    // HUGEINT, verdict by cross-multiplication at t = 1/4
    Gate("q207_chi2_drift", chiDriftQ _,
      """WITH r AS (SELECT event_type AS category, count(*) AS ref_n
        |           FROM events WHERE value <= 50 GROUP BY 1),
        |c AS (SELECT event_type AS category, count(*) AS cur_n
        |      FROM events WHERE value > 50 GROUP BY 1),
        |j AS (SELECT COALESCE(r.category, c.category) AS category,
        |        COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n
        |      FROM r FULL JOIN c
        |        ON r.category IS NOT DISTINCT FROM c.category),
        |t AS (SELECT sum(ref_n) AS tr, sum(cur_n) AS tc FROM j)
        |SELECT category, ref_n, cur_n,
        | CAST((ref_n*tc - cur_n*tr) * (ref_n*tc - cur_n*tr)
        |   AS BIGINT) AS chi_num,
        | CAST(tr * tc * (ref_n + cur_n) AS BIGINT) AS chi_den,
        | ((ref_n*tc - cur_n*tr) * (ref_n*tc - cur_n*tr) * 4 >
        |   tr * tc * (ref_n + cur_n) * 1) AS drifted
        |FROM j, t ORDER BY category""".stripMargin),
    Gate("q208_perceptron", perceptronQ _, perceptronOracle(4)),
    // densified per-cohort day grid via generate_series over each
    // cohort's span; gaps count 0 and carry the last observed type
    Gate("q209_gap_fill", gapFillQ _,
      """WITH daily AS (SELECT user_id % 25 AS k,
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  count(*) AS n_events, max(event_type) AS last_type
        | FROM events WHERE event_id % 11 = 0 GROUP BY 1, 2),
        |grid AS (SELECT k, unnest(generate_series(lo, hi)) AS day
        |         FROM (SELECT k, min(day) AS lo, max(day) AS hi
        |               FROM daily GROUP BY k))
        |SELECT g.k, g.day, COALESCE(d.n_events, 0) AS n_events,
        | last_value(d.last_type IGNORE NULLS) OVER
        |   (PARTITION BY g.k ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_type
        |FROM grid g LEFT JOIN daily d USING (k, day)
        |ORDER BY k, day""".stripMargin),
    // lag-gap flags summed cumulatively per user; second-truncated
    // timestamps, micros-exact strict > 1800s, (ts, event_id) order
    Gate("q211_sessionize", sessionizeQ _,
      """WITH e AS (SELECT event_id, user_id,
        |  date_trunc('second', ts) AS ts FROM events),
        |m AS (SELECT event_id, user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |  THEN 1 ELSE 0 END AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_id, user_id,
        | CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS session_id
        |FROM m ORDER BY event_id""".stripMargin),
    // the integer recurrence replayed by list_reduce over each row's
    // ordered prefix; // truncates toward zero exactly like the scan
    Gate("q212_ewma", ewmaQ _,
      """WITH e AS (SELECT event_id, user_id % 25 AS k,
        |  date_trunc('second', ts) AS ts,
        |  CAST(floor(value * 100) AS BIGINT) AS xv FROM events),
        |p AS (SELECT event_id, k, xv,
        |  list(xv) OVER (PARTITION BY k ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
        | FROM e)
        |SELECT event_id, k, xv,
        | CAST(list_reduce(xs, (acc, x) -> (1*x + 3*acc) // 4) AS BIGINT)
        |   AS ewma
        |FROM p ORDER BY event_id""".stripMargin),
    // the q209 densified grid, then the zero-seeded max(0, S+x−2)
    // recurrence replayed over each row's ordered prefix
    Gate("q213_cusum", cusumQ _,
      """WITH daily AS (SELECT user_id % 25 AS k,
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  count(*) AS n FROM events WHERE event_id % 11 = 0 GROUP BY 1, 2),
        |grid AS (SELECT k, unnest(generate_series(lo, hi)) AS day
        |         FROM (SELECT k, min(day) AS lo, max(day) AS hi
        |               FROM daily GROUP BY k)),
        |d AS (SELECT g.k, g.day, COALESCE(daily.n, 0) AS x
        |      FROM grid g LEFT JOIN daily USING (k, day)),
        |p AS (SELECT k, day, x,
        |  list(x) OVER (PARTITION BY k ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
        | FROM d)
        |SELECT k, day, x,
        | CAST(list_reduce(list_prepend(0, xs),
        |   (acc, x) -> greatest(0, acc + x - 2)) AS BIGINT) AS cusum,
        | (list_reduce(list_prepend(0, xs),
        |   (acc, x) -> greatest(0, acc + x - 2)) > 3) AS alarm
        |FROM p ORDER BY k, day""".stripMargin),
    // the naive a < b < c three-way self-join over canonical co-order
    // edges; per-node credit via the three-vertex unpivot
    Gate("q214_triangles", trianglesQ _,
      """WITH pe AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |   AND a.l_partkey < b.l_partkey
        |  WHERE a.l_linenumber <= 3 AND b.l_linenumber <= 3),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM pe e1 JOIN pe e2 ON e2.u = e1.v
        |  JOIN pe e3 ON e3.u = e1.u AND e3.v = e2.v)
        |SELECT node, count(*) AS n_triangles FROM
        | (SELECT a AS node FROM tri
        |  UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY node ORDER BY node""".stripMargin),
    // every (key, shard) md5 hash replayed, both argmaxes by
    // (hash DESC, shard DESC), the removed-shard disruption as data
    Gate("q217_rendezvous", rendezvousQ _,
      """WITH k AS (SELECT p_partkey FROM part),
        |s7 AS (SELECT unnest(['s0','s1','s2','s3','s4','s5','s6'])
        |         AS shard),
        |a7 AS (SELECT p_partkey, shard,
        |  ('0x' || substring(md5(CAST(p_partkey AS VARCHAR) || '#' ||
        |    shard), 1, 15))::BIGINT AS h
        | FROM k CROSS JOIN s7),
        |w7 AS (SELECT p_partkey, shard FROM
        |  (SELECT p_partkey, shard, row_number() OVER
        |    (PARTITION BY p_partkey ORDER BY h DESC, shard DESC) AS rn
        |   FROM a7) WHERE rn = 1),
        |w6 AS (SELECT p_partkey, shard FROM
        |  (SELECT p_partkey, shard, row_number() OVER
        |    (PARTITION BY p_partkey ORDER BY h DESC, shard DESC) AS rn
        |   FROM a7 WHERE shard <> 's3') WHERE rn = 1)
        |SELECT k.p_partkey, w7.shard AS shard_old, w6.shard AS shard_new,
        | (w7.shard <> w6.shard) AS moved
        |FROM k JOIN w7 USING (p_partkey) JOIN w6 USING (p_partkey)
        |ORDER BY p_partkey""".stripMargin),
    // lag per user by (ts, event_id); first-in-key comes from '^start'
    // by POSITION (row_number = 1), NOT by COALESCE on the lag — a
    // genuinely-null previous event type must stay a null from_type
    // (the operator treats null as a state like any other), exactly the
    // conflation Paths.transitionCounts' docstring warns against
    Gate("q218_transitions", transitionsQ _,
      """WITH e AS (SELECT event_id, user_id,
        |  date_trunc('second', ts) AS ts, event_type FROM events),
        |m AS (SELECT event_type AS to_type,
        |  CASE WHEN row_number() OVER w = 1 THEN '^start'
        |       ELSE lag(event_type) OVER w END AS from_type
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT from_type, to_type, count(*) AS n FROM m
        |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin),
    // 15-min-gap sessions -> ordered type journey -> top 20 by count,
    // ties on the path string
    Gate("q219_top_paths", topPathsQ _,
      """WITH e AS (SELECT event_id, user_id,
        |  date_trunc('second', ts) AS ts, event_type FROM events),
        |m AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 900000000
        |  THEN 1 ELSE 0 END AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM m),
        |p AS (SELECT user_id, sid,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        | FROM s GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),
    Gate("q220_personalized_rank", personalizedRankQ _,
      personalizedRankOracle(4)),
    Gate("q222_bfs", bfsQ _, bfsOracle(3)),
    Gate("q224_weighted_paths", weightedPathsQ _, weightedPathsOracle(4)),
    Gate("q259_path_tree", weightedPathTreeQ _, weightedPathTreeOracle(4)),
    Gate("q226_merge_guard", mergeGuardQ _, mergeGuardOracle),
    // per-candidate: distinct lhs, fanning lhs, surplus rhs mappings
    Gate("q235_fd_audit", fdAuditQ _,
      """SELECT * FROM (
        | SELECT 'c_nationkey' AS lhs, 'c_mktsegment' AS rhs,
        |  CAST(count(*) AS BIGINT) AS n_lhs,
        |  CAST(count(*) FILTER (k > 1) AS BIGINT) AS n_violating_lhs,
        |  CAST(sum(greatest(k - 1, 0)) AS BIGINT) AS n_extra_rhs,
        |  (sum(greatest(k - 1, 0)) = 0) AS holds
        | FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS k
        |       FROM customer GROUP BY 1)
        | UNION ALL
        | SELECT 'l_orderkey', 'l_returnflag', CAST(count(*) AS BIGINT),
        |  CAST(count(*) FILTER (k > 1) AS BIGINT),
        |  CAST(sum(greatest(k - 1, 0)) AS BIGINT),
        |  sum(greatest(k - 1, 0)) = 0
        | FROM (SELECT l_orderkey, count(DISTINCT l_returnflag) AS k
        |       FROM lineitem GROUP BY 1)
        | UNION ALL
        | SELECT 'l_partkey', 'l_suppkey', CAST(count(*) AS BIGINT),
        |  CAST(count(*) FILTER (k > 1) AS BIGINT),
        |  CAST(sum(greatest(k - 1, 0)) AS BIGINT),
        |  sum(greatest(k - 1, 0)) = 0
        | FROM (SELECT l_partkey, count(DISTINCT l_suppkey) AS k
        |       FROM lineitem GROUP BY 1)
        | UNION ALL
        | SELECT 'o_orderkey', 'o_custkey', CAST(count(*) AS BIGINT),
        |  CAST(count(*) FILTER (k > 1) AS BIGINT),
        |  CAST(sum(greatest(k - 1, 0)) AS BIGINT),
        |  sum(greatest(k - 1, 0)) = 0
        | FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS k
        |       FROM orders GROUP BY 1)
        |) ORDER BY lhs, rhs""".stripMargin),
    // the truth itself: plain distinct counts per day and window
    Gate("q256_dau_wau", dauWauQ _,
      """WITH v AS (SELECT DISTINCT
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  user_id FROM events),
        |days AS (SELECT DISTINCT day FROM v),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |        FROM v GROUP BY day),
        |wau AS (SELECT d.day,
        |  CAST(count(DISTINCT p.user_id) AS BIGINT) AS wau
        | FROM days d JOIN v p ON p.day BETWEEN d.day - 6 AND d.day
        | GROUP BY d.day)
        |SELECT day, dau.dau, wau.wau FROM dau JOIN wau USING (day)
        |ORDER BY day""".stripMargin),
    // strict-> funnel steps, doubled-median over exact micro deltas
    Gate("q254_conversion_latency", conversionLatencyQ _,
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s1.t1
        |  GROUP BY 1),
        |d AS (SELECT s1.user_id % 5 AS k, s2.t2 - s1.t1 AS delta
        |      FROM s1 JOIN s2 ON s1.user_id = s2.user_id),
        |r AS (SELECT k, delta, row_number() OVER (PARTITION BY k
        |        ORDER BY delta) AS rn,
        |      count(*) OVER (PARTITION BY k) AS n FROM d)
        |SELECT k, CAST(max(n) AS BIGINT) AS n_converted,
        | CAST(min(delta) AS BIGINT) AS min_us,
        | CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN delta END) +
        |      sum(CASE WHEN rn = n // 2 + 1 THEN delta END) AS BIGINT)
        |   AS med2_us,
        | CAST(max(delta) AS BIGINT) AS max_us
        |FROM r GROUP BY k ORDER BY k""".stripMargin),
    // (count, value) struct argmax; Gini as (n^2 - sum c^2) / n^2
    Gate("q253_cat_profile", categoricalProfileQ _,
      """WITH vc AS (SELECT o_orderpriority AS g, o_orderstatus AS v,
        |  CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1, 2),
        |agg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  max(struct_pack(c := c, v := v)) AS m,
        |  CAST(sum(c * c) AS BIGINT) AS ss FROM vc GROUP BY g)
        |SELECT g AS o_orderpriority, n, n_distinct, m.v AS mode,
        | m.c AS mode_n,
        | CAST(n * n - ss AS BIGINT) AS gini_num,
        | CAST(n * n AS BIGINT) AS gini_den
        |FROM agg ORDER BY o_orderpriority""".stripMargin),
    // exact p10/p90 order-stat clamps (rank = max(1, ceil(q*n)))
    Gate("q252_winsorize", winsorizeQ _,
      """WITH v AS (SELECT event_type AS g,
        |  CAST(floor(value * 100) AS BIGINT) AS x FROM events),
        |r AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x)
        |        AS rn, count(*) OVER (PARTITION BY g) AS n FROM v),
        |c AS (SELECT g,
        |  max(CASE WHEN rn = greatest(1, (1 * n + 9) // 10)
        |      THEN x END) AS lo,
        |  max(CASE WHEN rn = greatest(1, (9 * n + 9) // 10)
        |      THEN x END) AS hi
        | FROM r GROUP BY g)
        |SELECT v.g AS event_type, CAST(count(*) AS BIGINT) AS n,
        | CAST(max(c.lo) AS BIGINT) AS lo, CAST(max(c.hi) AS BIGINT) AS hi,
        | CAST(sum(v.x) AS BIGINT) AS sum_raw,
        | CAST(sum(greatest(c.lo, least(c.hi, v.x))) AS BIGINT)
        |   AS sum_winsorized
        |FROM v JOIN c USING (g) GROUP BY v.g
        |ORDER BY event_type""".stripMargin),
    // exact diff rationals vs the control variant, ppm cross-multiplied
    Gate("q251_ab_audit", abAuditQ _,
      """WITH u AS (SELECT user_id, CAST(user_id % 3 AS VARCHAR)
        |    AS variant,
        |  max(CASE WHEN event_type = 'purchase' AND value > 150
        |      THEN 1 ELSE 0 END) AS conv
        | FROM events GROUP BY 1, 2),
        |v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
        |      CAST(sum(conv) AS BIGINT) AS k FROM u GROUP BY 1),
        |c AS (SELECT n AS n0, k AS k0 FROM v WHERE variant = '0')
        |SELECT v.variant, v.n, v.k,
        | CAST(v.k * c.n0 - c.k0 * v.n AS BIGINT) AS diff_num,
        | CAST(v.n * c.n0 AS BIGINT) AS diff_den,
        | (abs(v.k * c.n0 - c.k0 * v.n) * 1000000 >
        |   50000 * v.n * c.n0) AS shifted
        |FROM v, c ORDER BY v.variant""".stripMargin),
    // q211's session construction + per-session then per-user rollup
    Gate("q250_session_report", sessionReportQ _,
      """WITH e AS (SELECT event_id, user_id,
        |  date_trunc('second', ts) AS ts FROM events),
        |m AS (SELECT event_id, user_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |  THEN 1 ELSE 0 END AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sid AS (SELECT user_id, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS session_id FROM m),
        |ses AS (SELECT user_id, session_id,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(epoch_us(ts)) - min(epoch_us(ts)) AS BIGINT)
        |    AS dwell_us
        | FROM sid GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        | CAST(count(*) FILTER (n = 1) AS BIGINT) AS n_bounces,
        | CAST(sum(dwell_us) AS BIGINT) AS total_dwell_us,
        | CAST(max(dwell_us) AS BIGINT) AS max_dwell_us
        |FROM ses GROUP BY user_id ORDER BY user_id""".stripMargin),
    // 63-bit bucket words: signed-shift-safe in both engines
    Gate("q249_bitmap_distinct", bitmapDistinctQ _,
      """WITH b AS (SELECT event_type, user_id // 63 AS bucket,
        |  bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INT)) AS bits
        | FROM events WHERE event_id % 4 = 0 GROUP BY 1, 2)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket, bits,
        | CAST(bit_count(bits) AS BIGINT) AS n_bits
        |FROM b ORDER BY event_type, bucket""".stripMargin),
    // per-day trailing-window registers rebuilt from scratch (q193's
    // register formula, group = day, window = BETWEEN day-6 AND day)
    Gate("q248_sliding_distinct", slidingDistinctQ _,
      """WITH v AS (SELECT DISTINCT
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  user_id FROM events),
        |days AS (SELECT DISTINCT day FROM v),
        |win AS (SELECT DISTINCT d.day, p.user_id FROM days d
        |        JOIN v p ON p.day BETWEEN d.day - 6 AND d.day),
        |h AS (SELECT DISTINCT day,
        |  ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
        |    ::BIGINT AS h
        | FROM win),
        |rr AS (SELECT day, h // 72057594037927936 AS bucket,
        |  CASE WHEN h % 72057594037927936 = 0 THEN 57
        |       ELSE 57 - length(bin(h % 72057594037927936)) END AS rho
        | FROM h),
        |regs AS (SELECT day, bucket, CAST(max(rho) AS BIGINT) AS register
        |         FROM rr GROUP BY 1, 2),
        |grid AS (SELECT d.day, b.bucket FROM days d,
        |         (SELECT unnest(range(0, 16)) AS bucket) b)
        |SELECT g.day, CAST(g.bucket AS BIGINT) AS bucket,
        | coalesce(r.register, 0) AS register
        |FROM grid g LEFT JOIN regs r
        |  ON g.day = r.day AND g.bucket = r.bucket
        |ORDER BY g.day, g.bucket""".stripMargin),
    // exact OLS sufficient statistics, re-based x, cross-multiplied
    // slope sign
    Gate("q246_group_trend", groupTrendQ _,
      """WITH v AS (SELECT event_type AS g,
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  CAST(floor(value * 100) AS BIGINT) AS y FROM events),
        |b AS (SELECT g, day - min(day) OVER (PARTITION BY g) AS x, y
        |      FROM v),
        |s AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |      CAST(sum(x * y) AS BIGINT) AS sxy,
        |      CAST(sum(x * x) AS BIGINT) AS sxx FROM b GROUP BY g)
        |SELECT g AS event_type, n, sx, sy, sxy, sxx,
        | CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        | CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
        | CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |      ELSE (n * sxy - sx * sy > 0) END AS rising
        |FROM s ORDER BY event_type""".stripMargin),
    // distinct (basket, item) rows, basket-keyed pair join, exact
    // ppm by truncating division, cross-multiplied fence
    Gate("q281_basket_lift", basketLiftQ _,
      """WITH b AS (SELECT DISTINCT user_id,
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  event_type AS it
        | FROM events),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM
        |      (SELECT DISTINCT user_id, day FROM b)),
        |c1 AS (SELECT it, CAST(count(*) AS BIGINT) AS c FROM b
        |       GROUP BY 1),
        |p AS (SELECT x.it AS item_a, y.it AS item_b,
        |  CAST(count(*) AS BIGINT) AS c_ab
        | FROM b x JOIN b y ON x.user_id = y.user_id AND x.day = y.day
        |   AND x.it < y.it GROUP BY 1, 2)
        |SELECT p.item_a, p.item_b, p.c_ab, a.c AS c_a, bb.c AS c_b,
        | n.nb AS n_baskets,
        | CAST(p.c_ab::HUGEINT * n.nb * 1000000 //
        |   (a.c::HUGEINT * bb.c) AS BIGINT) AS lift_ppm,
        | p.c_ab::HUGEINT * n.nb * 10 >= a.c::HUGEINT * bb.c * 9 AS assoc
        |FROM p JOIN c1 a ON a.it = p.item_a
        | JOIN c1 bb ON bb.it = p.item_b CROSS JOIN n
        |ORDER BY item_a, item_b""".stripMargin),
    // the folded view equals the one-shot re-join (the gate asserts
    // the fold; the oracle states the target)
    Gate("q278_join_view_maintain", joinViewMaintainQ _,
      """SELECT o.o_custkey,
        | CAST(count(*) AS BIGINT) AS n_items,
        | CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
        |   AS BIGINT) AS total
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY o_custkey""".stripMargin),
    // inclusive overlap join, clip to [max(s), min(e)), half-open
    // island sweep over the clips — restated with window functions
    Gate("q277_interval_intersect", intervalIntersectionQ _,
      """WITH e AS (SELECT user_id AS k, event_id, epoch_us(ts) AS t
        |  FROM events),
        |a AS (SELECT k, event_id AS id, t AS s, t + 2400000000 AS e
        |      FROM e WHERE event_id % 2 = 0),
        |b AS (SELECT k, event_id AS id, t AS s, t + 1800000000 AS e
        |      FROM e WHERE event_id % 2 = 1),
        |clips AS (
        | SELECT a.k, greatest(a.s, b.s) AS s, least(a.e, b.e) AS e,
        |  CAST(a.id AS VARCHAR) || ':' || CAST(b.id AS VARCHAR) AS id
        | FROM a JOIN b ON a.k = b.k AND a.s <= b.e AND b.s <= a.e),
        |c2 AS (SELECT * FROM clips WHERE e > s),
        |m AS (SELECT k, s, e, id,
        |  max(e) OVER (PARTITION BY k ORDER BY s, e, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
        | FROM c2),
        |isl AS (SELECT *,
        |  sum(CASE WHEN rm IS NULL OR s > rm THEN 1 ELSE 0 END)
        |  OVER (PARTITION BY k ORDER BY s, e, id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM m),
        |cov AS (SELECT k, island, max(e) - min(s) AS c FROM isl
        |        GROUP BY 1, 2)
        |SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_islands,
        | CAST(sum(c) AS BIGINT) AS covered_us
        |FROM cov GROUP BY k ORDER BY user_id""".stripMargin),
    // exact TVD: |c_a*N_b - c_b*N_a| per bucket, cross-multiplied
    // verdict in HUGEINT, no division
    Gate("q276_tvd_drift", tvdDriftQ _,
      """WITH e AS (SELECT user_id % 4 AS g, event_type AS bucket,
        |  day(CAST(ts AS DATE)) <= 15 AS is_a, event_id
        | FROM events),
        |f AS (SELECT * FROM e WHERE is_a OR NOT (bucket = 'signup'
        |  AND g <= 1 AND event_id % 3 = 0)),
        |ca AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS c_a FROM f
        |       WHERE is_a GROUP BY 1, 2),
        |cb AS (SELECT g, bucket, CAST(count(*) AS BIGINT) AS c_b FROM f
        |       WHERE NOT is_a GROUP BY 1, 2),
        |j AS (SELECT COALESCE(ca.g, cb.g) AS g,
        |  COALESCE(ca.bucket, cb.bucket) AS bucket,
        |  COALESCE(c_a, 0) AS c_a, COALESCE(c_b, 0) AS c_b
        | FROM ca FULL JOIN cb USING (g, bucket)),
        |t AS (SELECT g, sum(c_a) AS na, sum(c_b) AS nb FROM j GROUP BY g),
        |d AS (SELECT j.g, bucket, c_a, c_b,
        |  abs(c_a::HUGEINT * nb - c_b::HUGEINT * na) AS contrib, na, nb
        | FROM j JOIN t ON t.g = j.g),
        |v AS (SELECT g, sum(contrib) AS num, max(na) AS na,
        |  max(nb) AS nb FROM d GROUP BY g)
        |SELECT d.g AS cohort, d.bucket AS event_type, d.c_a, d.c_b,
        | CAST(d.contrib AS BIGINT) AS contrib,
        | CAST(v.num AS BIGINT) AS tvd_num,
        | v.num * 100 >= v.na::HUGEINT * v.nb * 2 * 3 AS drifted
        |FROM d JOIN v ON v.g = d.g
        |ORDER BY cohort, event_type""".stripMargin),
    // the bitmap AND restated as the exact distinct intersection join
    Gate("q275_bitmap_retention", bitmapRetentionQ _,
      """WITH du AS (SELECT DISTINCT
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  user_id
        | FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |p AS (SELECT d.day AS g FROM days d JOIN days e
        |      ON e.day = d.day + 1),
        |a AS (SELECT day AS g, CAST(count(*) AS BIGINT) AS n_a FROM du
        |      GROUP BY 1),
        |b AS (SELECT day - 1 AS g, CAST(count(*) AS BIGINT) AS n_b
        |      FROM du GROUP BY 1),
        |c AS (SELECT x.day AS g, CAST(count(*) AS BIGINT) AS n_common
        |      FROM du x JOIN du y ON y.day = x.day + 1
        |        AND y.user_id = x.user_id
        |      GROUP BY 1)
        |SELECT p.g AS day, a.n_a, b.n_b,
        | COALESCE(c.n_common, 0) AS n_common,
        | CASE WHEN a.n_a + b.n_b - COALESCE(c.n_common, 0) = 0 THEN 0
        |  ELSE COALESCE(c.n_common, 0) * 1000000 //
        |       (a.n_a + b.n_b - COALESCE(c.n_common, 0)) END
        |   AS jaccard_ppm
        |FROM p JOIN a ON a.g = p.g JOIN b ON b.g = p.g
        | LEFT JOIN c ON c.g = p.g
        |ORDER BY day""".stripMargin),
    // bucket = length(bin(v)) - 1, the exact binary-length log2
    Gate("q273_log2_histogram", log2HistogramQ _,
      """WITH v AS (SELECT event_type AS g,
        |  CAST(floor(value * 100) AS BIGINT) AS v FROM events)
        |SELECT g AS event_type,
        | CAST(CASE WHEN v = 0 THEN -1 ELSE length(bin(v)) - 1 END
        |   AS BIGINT) AS bucket,
        | CAST(count(*) AS BIGINT) AS n, min(v) AS min_v, max(v) AS max_v
        |FROM v GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin),
    // the exact nearest-rank quantiles (the q272 machinery) + the KLL
    // accuracy-contract flag: the gate asserts the sketch estimate's
    // rank interval intersects [ceil(p*n) +/- 2% n] IN-PROCESS and
    // fails loudly otherwise, so the oracle states the contract held
    Gate("q285_kll_monitor", kllMonitorQ _,
      """WITH v AS (SELECT event_type AS g,
        |  CAST(floor(value * 100) AS BIGINT) AS x FROM events),
        |r AS (SELECT g, x,
        |  row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
        |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM v),
        |ps AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
        |  (9, 10), (99, 100)) t(p_num, p_den))
        |SELECT g AS event_type, n, p_num, p_den,
        |  max(CASE WHEN rn = greatest(1, (p_num * n + p_den - 1) // p_den)
        |      THEN x END) AS q_value,
        |  true AS within_eps
        |FROM r, ps GROUP BY g, n, p_num, p_den
        |ORDER BY event_type, p_num""".stripMargin),
    // the same ceil(p*n) nearest-rank convention as window ranks
    Gate("q272_exact_quantiles", nearestRankQuantilesQ _,
      """WITH v AS (SELECT event_type AS g,
        |  CAST(floor(value * 100) AS BIGINT) AS x FROM events),
        |r AS (SELECT g, x,
        |  row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
        |  CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM v),
        |ps AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
        |  (9, 10), (99, 100)) t(p_num, p_den))
        |SELECT g AS event_type, n, p_num, p_den,
        |  max(CASE WHEN rn = greatest(1, (p_num * n + p_den - 1) // p_den)
        |      THEN x END) AS q_value
        |FROM r, ps GROUP BY g, n, p_num, p_den
        |ORDER BY event_type, p_num""".stripMargin),
    // the same sufficient sums; verdict by cross-multiplied HUGEINT
    // comparison, no division anywhere
    Gate("q270_correlation", correlationQ _,
      """WITH v AS (SELECT event_type AS g,
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x0,
        |  CAST(floor(value * 100) AS BIGINT) AS y FROM events),
        |b AS (SELECT g, x0 - min(x0) OVER (PARTITION BY g) AS x, y
        |      FROM v),
        |s AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy,
        |  CAST(sum(x * x) AS BIGINT) AS sxx,
        |  CAST(sum(y * y) AS BIGINT) AS syy FROM b GROUP BY g),
        |d AS (SELECT *,
        |  n::HUGEINT * sxy - sx::HUGEINT * sy AS cov,
        |  n::HUGEINT * sxx - sx::HUGEINT * sx AS vx,
        |  n::HUGEINT * syy - sy::HUGEINT * sy AS vy FROM s)
        |SELECT g AS event_type, n, sx, sy, sxy, sxx, syy,
        | CAST(cov AS BIGINT) AS cov_num,
        | CAST(CASE WHEN cov > 0 THEN 1 WHEN cov < 0 THEN -1 ELSE 0 END
        |   AS BIGINT) AS direction,
        | CASE WHEN vx = 0 OR vy = 0 THEN NULL
        |      ELSE cov * cov * 100 * 100 >= vx * vy * 1 * 1 END
        |   AS related
        |FROM d ORDER BY event_type""".stripMargin),
    // segment at purchases via the prior-purchase running count,
    // windowed first/last touch per segment, direct when touchless
    Gate("q266_attribution", attributionQ _,
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  epoch_us(ts) AS t, CAST(floor(value * 100) AS BIGINT) AS cents
        | FROM events WHERE event_type IN ('view', 'click', 'purchase')),
        |s2 AS (SELECT *, COALESCE(count(*) FILTER (event_type = 'purchase')
        |    OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg
        | FROM e),
        |touch AS (
        | SELECT DISTINCT user_id, seg,
        |  first_value(event_type) OVER w AS first_type,
        |  last_value(event_type) OVER w AS last_type
        | FROM s2 WHERE event_type <> 'purchase'
        | WINDOW w AS (PARTITION BY user_id, seg ORDER BY t, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
        |conv AS (SELECT user_id, seg, cents FROM s2
        |  WHERE event_type = 'purchase'),
        |j AS (SELECT c.cents,
        |  COALESCE(t.first_type, 'direct') AS first_type,
        |  COALESCE(t.last_type, 'direct') AS last_type
        | FROM conv c LEFT JOIN touch t USING (user_id, seg))
        |SELECT 'first_touch' AS model, first_type AS touch_type,
        |  CAST(count(*) AS BIGINT) AS n_conv,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM j GROUP BY 2
        |UNION ALL
        |SELECT 'last_touch', last_type, CAST(count(*) AS BIGINT),
        |  CAST(sum(cents) AS BIGINT) FROM j GROUP BY 2
        |ORDER BY model, touch_type""".stripMargin),
    // exact per-key join contributions from two distinct-key-sized
    // aggregates; ppm by truncating integer division
    Gate("q265_join_cardinality", joinCardinalityQ _,
      """WITH la AS (SELECT l_partkey AS join_key,
        |  CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1),
        |m AS (SELECT a.join_key, a.n AS n_left, b.n AS n_right,
        |  a.n * b.n AS contrib FROM la a JOIN la b USING (join_key)),
        |t AS (SELECT sum(contrib) AS tot,
        |  CAST(count(*) AS BIGINT) AS n_keys FROM m)
        |SELECT join_key, n_left, n_right, contrib,
        | CAST(tot AS BIGINT) AS total_rows, n_keys,
        | CAST(contrib * 1000000 // tot AS BIGINT) AS contrib_ppm
        |FROM m, t ORDER BY contrib DESC, join_key LIMIT 15""".stripMargin),
    // running high-water mark over arrival order, strict < for late
    Gate("q245_lateness", latenessQ _,
      """WITH e AS (SELECT user_id AS k, event_id,
        |  epoch_us(ts) - (event_id % 7) * 1800000000 AS t FROM events),
        |m AS (SELECT k, t, max(t) OVER (PARTITION BY k ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hw
        | FROM e)
        |SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n,
        | CAST(count(*) FILTER (hw IS NOT NULL AND t < hw) AS BIGINT)
        |   AS n_late,
        | CAST(COALESCE(max(CASE WHEN hw IS NOT NULL AND t < hw
        |   THEN hw - t END), 0) AS BIGINT) AS max_late_us
        |FROM m GROUP BY k ORDER BY user_id""".stripMargin),
    // value-based RANGE frame: sparse days age out by day arithmetic
    Gate("q243_rolling_range", rollingRangeQ _,
      """WITH daily AS (SELECT user_id % 25 AS k,
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |  CAST(count(*) AS BIGINT) AS n
        | FROM events WHERE event_id % 11 = 0 GROUP BY 1, 2)
        |SELECT k, day, n,
        | CAST(sum(n) OVER w AS BIGINT) AS n_7d,
        | CAST(count(*) OVER w AS BIGINT) AS days_seen_7d
        |FROM daily
        |WINDOW w AS (PARTITION BY k ORDER BY day
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY k, day""".stripMargin),
    // the identical unrolled shift/mask chain, term for term
    Gate("q244_zorder", zorderQ _,
      s"""SELECT l_orderkey * 10 + l_linenumber AS rid,
         | l_partkey, l_suppkey,
         | CAST(${graft.operators.ZOrder.interleave2Sql("l_partkey",
            "l_suppkey", 16)} AS BIGINT) AS z
         |FROM lineitem ORDER BY rid""".stripMargin),
    // step-function gap attribution, (ts, event_id) tie order
    Gate("q239_twap", twapQ _,
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS t,
        |  CAST(floor(value * 100) AS BIGINT) AS v, event_id FROM events),
        |l AS (SELECT k, t, v, lead(t) OVER (PARTITION BY k
        |        ORDER BY t, event_id) AS nt FROM e)
        |SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n,
        | CAST(max(t) - min(t) AS BIGINT) AS span_us,
        | CAST(COALESCE(sum(v * (nt - t)), 0) AS BIGINT) AS twsum
        |FROM l GROUP BY k ORDER BY user_id""".stripMargin),
    // running-max island sweep over half-open 45-min intervals
    Gate("q240_coverage", coverageQ _,
      """WITH iv AS (SELECT user_id AS k, epoch_us(ts) AS s,
        |  epoch_us(ts) + 2700000000 AS e, event_id FROM events),
        |m AS (SELECT k, s, e, event_id, max(e) OVER (PARTITION BY k
        |  ORDER BY s, e, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
        | FROM iv),
        |g AS (SELECT k, s, e, event_id,
        |  CASE WHEN rm IS NULL OR s > rm THEN 1 ELSE 0 END AS brk FROM m),
        |i AS (SELECT k, s, e, sum(brk) OVER (PARTITION BY k
        |  ORDER BY s, e, event_id ROWS UNBOUNDED PRECEDING) AS island
        | FROM g),
        |c AS (SELECT k, island, max(e) - min(s) AS cov
        |      FROM i GROUP BY k, island)
        |SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_islands,
        | CAST(sum(cov) AS BIGINT) AS covered_us
        |FROM c GROUP BY k ORDER BY user_id""".stripMargin),
    // day - row_number island trick over the distinct active days
    Gate("q241_streaks", streaksQ _,
      """WITH d AS (SELECT DISTINCT user_id % 25 AS k,
        |  date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        | FROM events WHERE event_id % 11 = 0),
        |r AS (SELECT k, day, day - row_number() OVER (PARTITION BY k
        |        ORDER BY day) AS grp FROM d),
        |s AS (SELECT k, grp, CAST(count(*) AS BIGINT) AS len
        |      FROM r GROUP BY k, grp)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_streaks,
        | CAST(max(len) AS BIGINT) AS longest,
        | CAST(sum(len) AS BIGINT) AS n_days
        |FROM s GROUP BY k ORDER BY k""".stripMargin),
    // the fold replayed per row: acc encodes lastEmitted*2 + flag; //
    // truncation is exact here (acc is even-negative only at the seed)
    Gate("q242_cooldown", cooldownQ _,
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS t
        |           FROM events),
        |p AS (SELECT event_id, user_id, t,
        |  list(t) OVER (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
        | FROM e)
        |SELECT event_id, user_id,
        | (list_reduce(list_prepend(-4611686018427387904, xs),
        |   (acc, t) -> CASE WHEN t - acc // 2 >= 21600000000
        |               THEN t * 2 + 1 ELSE (acc // 2) * 2 END) % 2 = 1)
        |   AS emitted
        |FROM p ORDER BY event_id""".stripMargin),
    // literal Benford ppm constants; first digit from the exact
    // integer's string form; all-integer deviations
    Gate("q238_benford", benfordQ _,
      """WITH v AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT)
        |    AS x FROM lineitem WHERE floor(l_extendedprice * 100) > 0),
        |d AS (SELECT CAST(substring(CAST(x AS VARCHAR), 1, 1) AS BIGINT)
        |        AS digit FROM v),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d
        |      GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |e AS (SELECT CAST(digit AS BIGINT) AS digit,
        |        CAST(ppm AS BIGINT) AS ppm FROM (VALUES (1, 301030),
        |  (2, 176091), (3, 124939), (4, 96910), (5, 79181), (6, 66947),
        |  (7, 57992), (8, 51153), (9, 45757)) AS b(digit, ppm))
        |SELECT e.digit, COALESCE(c.n, 0) AS n, e.ppm AS expected_ppm,
        | CAST(abs(COALESCE(c.n, 0) * 1000000 - t.total * e.ppm)
        |   AS BIGINT) AS dev,
        | (abs(COALESCE(c.n, 0) * 1000000 - t.total * e.ppm) >
        |   20000 * t.total) AS off_digit
        |FROM e LEFT JOIN c USING (digit), t ORDER BY e.digit""".stripMargin),
    // orphans per declared FK; the part parent misses every 3rd key
    Gate("q236_ri_audit", riAuditQ _,
      """WITH r AS (
        | SELECT 'events->customer' AS relation,
        |  CAST((SELECT count(*) FROM events WHERE user_id IS NOT NULL)
        |    AS BIGINT) AS n_child,
        |  CAST((SELECT count(*) FROM events e WHERE e.user_id IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = e.user_id))
        |    AS BIGINT) AS n_orphans
        | UNION ALL
        | SELECT 'lineitem->orders',
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL),
        |  (SELECT count(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
        |   AND NOT EXISTS (SELECT 1 FROM orders o
        |                   WHERE o.o_orderkey = l.l_orderkey))
        | UNION ALL
        | SELECT 'lineitem->part_partial',
        |  (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL),
        |  (SELECT count(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
        |   AND NOT EXISTS (SELECT 1 FROM part p
        |                   WHERE p.p_partkey % 3 <> 0
        |                     AND p.p_partkey = l.l_partkey)))
        |SELECT relation, n_child, n_orphans, (n_orphans = 0) AS intact
        |FROM r ORDER BY relation""".stripMargin),
    // per-source rank -> ceil-scaled reference position -> reference
    // order statistic; ties broken by id in both engines
    Gate("q231_quantile_norm", quantileNormQ _,
      """WITH v AS (SELECT event_id, event_type,
        |  CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |rk AS (SELECT event_id, event_type, cents,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY cents, event_id) AS r,
        |  count(*) OVER (PARTITION BY event_type) AS ng FROM v),
        |ref AS (SELECT r AS p, cents AS x_norm FROM rk
        |        WHERE event_type = 'view'),
        |nr AS (SELECT count(*) AS n_ref FROM ref)
        |SELECT event_id, event_type, cents, x_norm
        |FROM rk, nr JOIN ref
        |  ON ref.p = (rk.r * nr.n_ref + rk.ng - 1) // rk.ng
        |ORDER BY event_id""".stripMargin),
    // doubled order statistics: med2 = sum of the two middle ranks,
    // dev2 = |2x - med2|, mad4 likewise over dev2; strict 3*MAD fence
    // cross-multiplied as 2*dev2 > 3*mad4
    Gate("q230_robust_outliers", robustOutliersQ _,
      """WITH v AS (SELECT event_type AS g,
        |  CAST(floor(value * 100) AS BIGINT) AS x FROM events),
        |r AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x)
        |        AS rn, count(*) OVER (PARTITION BY g) AS n FROM v),
        |m AS (SELECT g, max(n) AS n,
        |  CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN x END) +
        |       sum(CASE WHEN rn = n // 2 + 1 THEN x END) AS BIGINT)
        |    AS med2
        | FROM r GROUP BY g),
        |d AS (SELECT v.g, abs(2 * v.x - m.med2) AS dev2
        |      FROM v JOIN m USING (g)),
        |dr AS (SELECT g, dev2, row_number() OVER
        |        (PARTITION BY g ORDER BY dev2) AS rn,
        |        count(*) OVER (PARTITION BY g) AS n FROM d),
        |mm AS (SELECT g,
        |  CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN dev2 END) +
        |       sum(CASE WHEN rn = n // 2 + 1 THEN dev2 END) AS BIGINT)
        |    AS mad4
        | FROM dr GROUP BY g),
        |o AS (SELECT d.g, CAST(count(*) FILTER
        |        (2 * d.dev2 * 1 > 3 * mm.mad4) AS BIGINT) AS n_outliers
        |      FROM d JOIN mm USING (g) GROUP BY d.g)
        |SELECT m.g AS event_type, m.n, m.med2, mm.mad4, o.n_outliers
        |FROM m JOIN mm USING (g) JOIN o USING (g)
        |ORDER BY event_type""".stripMargin),
    // the diff restated as one FULL JOIN with FILTERed counts
    Gate("q229_snapshot_diff", snapshotDiffQ _,
      """WITH old AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |new AS (SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 3 = 0 THEN o_custkey + 1000000
        |       ELSE o_custkey END AS o_custkey,
        |  CASE WHEN o_orderkey % 11 = 0 THEN 'X'
        |       ELSE o_orderstatus END AS o_orderstatus
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |j AS (SELECT old.k AS ok, new.k AS nk,
        |  old.o_custkey AS oc, new.o_custkey AS nc,
        |  old.o_orderstatus AS os, new.o_orderstatus AS ns
        | FROM old FULL JOIN new ON old.k = new.k)
        |SELECT * FROM (
        | SELECT 'added' AS metric,
        |   CAST(count(*) FILTER (ok IS NULL) AS BIGINT) AS n FROM j
        | UNION ALL SELECT 'removed',
        |   count(*) FILTER (nk IS NULL) FROM j
        | UNION ALL SELECT 'changed', count(*) FILTER (ok IS NOT NULL
        |   AND nk IS NOT NULL AND (oc IS DISTINCT FROM nc
        |   OR os IS DISTINCT FROM ns)) FROM j
        | UNION ALL SELECT 'unchanged', count(*) FILTER (ok IS NOT NULL
        |   AND nk IS NOT NULL AND oc IS NOT DISTINCT FROM nc
        |   AND os IS NOT DISTINCT FROM ns) FROM j
        | UNION ALL SELECT 'changed:o_custkey', count(*) FILTER
        |   (ok IS NOT NULL AND nk IS NOT NULL
        |    AND oc IS DISTINCT FROM nc) FROM j
        | UNION ALL SELECT 'changed:o_orderstatus', count(*) FILTER
        |   (ok IS NOT NULL AND nk IS NOT NULL
        |    AND os IS DISTINCT FROM ns) FROM j
        |) ORDER BY metric""".stripMargin),
    Gate("q223_model_predict", perceptronPredictQ _, perceptronPredictOracle),
    Gate("q257_lift_table", liftTableQ _, liftTableOracle),
    Gate("q52_percentiles", percentilesQ _,
      """SELECT event_type,
        | quantile_cont(value, 0.5) AS p50,
        | quantile_cont(value, 0.95) AS p95,
        | COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Gate("q53_pivot", pivotQ _,
      """SELECT user_id,
        | CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
        | CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view,
        | CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
        | CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
        | CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
  )
}
