package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Token-budget shard packing: assign documents, in a stable key order, to
  * consecutive training shards of ~`budget` tokens each — the step that
  * turns a curated corpus into fixed-size training files. A document lands
  * in the shard its EXCLUSIVE running total falls in (`floor(prefix /
  * budget)`), so shard boundaries never split a document and each shard
  * overflows its budget by at most one document.
  *
  * The global running sum is the scale hazard: `sum() OVER (ORDER BY key)`
  * with no partition key funnels the whole table through ONE task — the
  * classic silent single-node collapse. This operator computes the same
  * prefix sum distributed:
  *
  *   1. range-repartition by the key (a distributed sort — contiguous,
  *      ordered key ranges per partition; unique keys make the prefix sum
  *      boundary-independent);
  *   2. per-partition weight totals aggregate to the driver (ONE long per
  *      partition — map-side combined, nothing else moves);
  *   3. exclusive partition offsets broadcast back as a tiny join table,
  *      and a window PARTITIONED BY the range id adds the within-partition
  *      prefix — every task scans only its own slice.
  *
  * Cost: the range exchange plus one hash exchange on the partition id
  * (Spark's window requires hash clustering even on already-range-grouped
  * data). Both are fully parallel — vs the single-task global window, which
  * is not a cost, it is a cliff. Results are exactly the single-window
  * formulation's (integer arithmetic, unique key order). */
object Sharding {

  /** Range-partition width for the distributed sort: an explicit positive
    * request wins; otherwise follow the WIDER of the input's current
    * partitioning and the session's shuffle parallelism. A hardcoded
    * default (the old literal 32) would silently funnel a 100 TB sort
    * through 32 tasks whenever the caller forgot to override it.
    *
    * The input width is read via `df.rdd` ONLY when the physical plan is
    * exchange-free (a scan/project/filter chain — RDD construction runs
    * no job there). If the plan contains an exchange, `df.rdd` under AQE
    * would EXECUTE every upstream shuffle just to count partitions, and
    * that work would then run again when the caller materializes — so we
    * answer with the shuffle parallelism instead, which is what an
    * AQE-coalesced exchange output is sized to anyway. */
  def autoPartitions(df: DataFrame, requested: Int): Int = {
    if (requested > 0) requested
    else {
      val conf = df.sparkSession.sessionState.conf.numShufflePartitions
      val hasExchange = df.queryExecution.sparkPlan.find {
        case _: org.apache.spark.sql.execution.exchange.Exchange => true
        case _ => false
      }.isDefined
      if (hasExchange) conf
      else math.max(df.rdd.getNumPartitions, conf)
    }
  }

  /** Adds `cum_weight` (exclusive prefix sum of `weightCol` in `keyCol`
    * order) and `shard_id` (= cum_weight div budget). Weights must be
    * non-negative; the key must be unique. `numPartitions <= 0` (the
    * default) derives the range width from the input — see
    * [[autoPartitions]]. */
  def packShards(df: DataFrame, keyCol: String, weightCol: String,
                 budget: Long, numPartitions: Int = 0): DataFrame = {
    require(budget > 0, "budget must be positive")
    val spark = df.sparkSession
    val ranged = df.repartitionByRange(autoPartitions(df, numPartitions), col(keyCol))
      .withColumn("_graft_pid", spark_partition_id())
      .localCheckpoint() // pin partition ids: they feed BOTH the offset agg
                         // and the final plan, and must agree
    val sums = ranged.groupBy(col("_graft_pid"))
      .agg(coalesce(sum(col(weightCol).cast("long")), lit(0L)).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    // exclusive offsets: total weight of every range strictly before pid
    var acc = 0L
    val offsets = sums.map { case (pid, s) =>
      val o = acc; acc += s; (pid, o)
    }.toSeq
    import spark.implicits._
    val offsetsDf = offsets.toDF("_graft_pid", "_graft_offset")
    val w = Window.partitionBy(col("_graft_pid")).orderBy(col(keyCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    ranged.join(broadcast(offsetsDf), "_graft_pid")
      .withColumn("cum_weight",
        col("_graft_offset") + sum(col(weightCol).cast("long")).over(w)
          - col(weightCol).cast("long"))
      // integer div, not floor(double /): exact past 2^53 total weight
      .withColumn("shard_id", expr(s"cum_weight div $budget"))
      .drop("_graft_pid", "_graft_offset")
  }

  /** Distributed score-quantile binning — `bin = (rank · k) div n` over
    * the (score, key) order: the curriculum/difficulty-bucket assignment
    * ("split the corpus into k bins by perplexity/length"). Spark's own
    * `ntile` needs a GLOBAL ORDER BY window — a single-partition
    * exchange that funnels the whole table onto one task; this is the
    * packShards range-exchange + broadcast-offsets rank instead, so it
    * scales like any other shuffle. Bin sizes differ by ≤ 1 row
    * (even-spread cut points `ceil(i·n/k)` — NOT Spark/SQL NTILE's
    * front-loaded remainder, which this deliberately avoids so the
    * formula restates as one integer expression). Keys must be unique
    * and non-null; ties at equal score break by key. */
  def ntileByScore(df: DataFrame, keyCol: String, scoreCol: String,
                   k: Int, numPartitions: Int = 0): DataFrame = {
    require(k > 0, "k must be positive")
    val spark = df.sparkSession
    val ranged = df.repartitionByRange(autoPartitions(df, numPartitions),
        col(scoreCol), col(keyCol))
      .withColumn("_graft_pid", spark_partition_id())
      .localCheckpoint() // pin partition ids (see packShards)
    val sums = ranged.groupBy(col("_graft_pid"))
      .agg(count(lit(1)).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val offsets = sums.map { case (pid, s) =>
      val o = acc; acc += s; (pid, o)
    }.toSeq
    val n = math.max(acc, 1L)
    import spark.implicits._
    val offsetsDf = offsets.toDF("_graft_pid", "_graft_offset")
    val w = Window.partitionBy(col("_graft_pid"))
      .orderBy(col(scoreCol), col(keyCol))
    ranged.join(broadcast(offsetsDf), "_graft_pid")
      .withColumn("_graft_rank",
        col("_graft_offset") + row_number().over(w).cast("long") - 1L)
      .withColumn("bin", expr(s"(_graft_rank * $k) div $n"))
      .drop("_graft_pid", "_graft_offset", "_graft_rank")
  }

  /** Exclusive per-GROUP prefix sum of `weightCol` over the `orderCols`
    * order, restarting at 0 inside every group — the distributed grouped
    * ranking/accumulation primitive behind [[packShardsBy]] and the
    * exact-k samplers (with weight 1, `cum_weight` IS the 0-based rank
    * within the group).
    *
    * Scale shape, same discipline as [[packShards]]: ONE range exchange
    * on (group, order) — group boundaries may split across partitions,
    * that's fine; per-(partition, group) weight totals aggregate to the
    * driver (bounded by `numPartitions × |groups|` rows — groups are
    * source/language-granular by contract, not high-cardinality keys);
    * exclusive per-group offsets broadcast back; the within-partition
    * window is PARTITIONED BY (range id, group) so no task ever holds
    * more than one partition's slice of one group — a plain
    * `PARTITION BY group` window would move every hot-group row to one
    * task, the exact funnel packShards exists to avoid.
    *
    * Null group values form their own group (the offset join is
    * null-safe); the (group, orderCols) tuple must be unique and weights
    * non-negative. Group cardinality must be LOW (languages, sources —
    * not per-document keys): the driver holds numPartitions × |groups|
    * offset rows, ENFORCED — the collect is limit(cap+1)-bounded (one
    * job, nothing past the cap can ever land driver-side) and the call
    * fails with an actionable error past
    * `spark.graft.sharding.maxOffsetRows` (default 1,000,000) instead
    * of silently ballooning the driver. Appends `cum_weight`; the input
    * must not already carry a `cum_weight` column. */
  def groupedPrefixSum(df: DataFrame, groupCols: Seq[String],
                       orderCols: Seq[String], weightCol: String,
                       numPartitions: Int = 0): DataFrame = {
    require(groupCols.nonEmpty, "use packShards for the ungrouped form")
    require(!df.columns.contains("cum_weight"),
      "input already has a cum_weight column - rename it first")
    val spark = df.sparkSession
    val ranged = df.repartitionByRange(autoPartitions(df, numPartitions),
        (groupCols ++ orderCols).map(col): _*)
      .withColumn("_graft_pid", spark_partition_id())
      .localCheckpoint() // pin partition ids (see packShards)
    val gExprs = groupCols.map(col)
    val offsetFrame = ranged.groupBy(col("_graft_pid") +: gExprs: _*)
      .agg(coalesce(sum(col(weightCol).cast("long")), lit(0L)).as("s"))
    // guarded collect: a high-cardinality group column (per-document
    // keys) would pull numPartitions × |groups| rows to the driver. The
    // limit(cap+1) bounds what can EVER land driver-side and costs one
    // job (a separate count-then-collect would run the aggregation
    // twice); one spare row past the cap proves the overflow
    val maxOffsetRows = spark.conf
      .getOption("spark.graft.sharding.maxOffsetRows").map(_.toLong)
      .getOrElse(1000000L)
    val sums = offsetFrame
      .limit(math.min(maxOffsetRows, Int.MaxValue - 2L).toInt + 1).collect()
    require(sums.length <= maxOffsetRows,
      s"groupedPrefixSum: ${groupCols.mkString("(", ",", ")")} yields " +
      s"more than the driver-side cap of $maxOffsetRows (partition, " +
      "group) offset rows (spark.graft.sharding.maxOffsetRows). The " +
      "group column must be LOW-cardinality (languages/sources); for " +
      "per-key tops/ranks use Sketches.topK or a groupBy aggregate " +
      "instead of a grouped prefix sum.")
    // exclusive offsets per (pid, group): total weight of the SAME group
    // in every range strictly before pid
    val rows = sums.map { r =>
      (r.getInt(0), groupCols.indices.map(i => r.get(i + 1)).toIndexedSeq,
        r.getLong(1 + groupCols.size))
    }
    val offsets = rows.groupBy(_._2).iterator.flatMap { case (_, grp) =>
      var acc = 0L
      grp.sortBy(_._1).map { case (pid, g, s) =>
        val o = acc; acc += s; (pid, g, o)
      }
    }.toSeq
    val offsetsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.map { case (pid, g, o) =>
        org.apache.spark.sql.Row.fromSeq(pid +: g :+ o) }, 1),
      org.apache.spark.sql.types.StructType(
        ranged.schema("_graft_pid") +:
          groupCols.map(ranged.schema(_)) :+
          org.apache.spark.sql.types.StructField("_graft_offset",
            org.apache.spark.sql.types.LongType, nullable = false)))
    // ranged-qualified group refs: after the join both sides carry the
    // group columns, and bare names would be ambiguous
    val w = Window.partitionBy(col("_graft_pid") +: groupCols.map(ranged(_)): _*)
      .orderBy(orderCols.map(ranged(_)): _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    // NULL-SAFE join on the group columns: a null group is still a group
    // (an equi-join would silently drop its rows); pid is never null
    val cond = (ranged("_graft_pid") === offsetsDf("_graft_pid")) +:
      groupCols.map(g => ranged(g) <=> offsetsDf(g))
    ranged.join(broadcast(offsetsDf), cond.reduce(_ && _))
      .drop(offsetsDf("_graft_pid"))
      .withColumn("cum_weight",
        col("_graft_offset") + sum(col(weightCol).cast("long")).over(w)
          - col(weightCol).cast("long"))
      // project back to the input's columns (LEFT side) + cum_weight —
      // also drops the offset frame's duplicate group columns
      .select(df.columns.map(ranged(_)) :+ col("cum_weight"): _*)
  }

  /** Per-GROUP shard packing: [[packShards]] with the prefix sum
    * restarting at 0 inside every group — "pack each source/language
    * into its own ~budget-token shards", and (filtered on `cum_weight <
    * B`) the equal-token-budget stratified sample a mixture builder
    * takes from each stratum. See [[groupedPrefixSum]] for the scale
    * shape and contracts. */
  def packShardsBy(df: DataFrame, groupCols: Seq[String], keyCol: String,
                   weightCol: String, budget: Long,
                   numPartitions: Int = 0): DataFrame = {
    require(budget > 0, "budget must be positive")
    groupedPrefixSum(df, groupCols, Seq(keyCol), weightCol, numPartitions)
      .withColumn("shard_id", expr(s"cum_weight div $budget"))
  }

  /** GPT-style sequence packing: concatenate the chunk token stream in
    * `keyCol` order and cut every `capacity` tokens. Unlike [[packShards]]
    * (document-preserving shard assignment), chunks STRADDLE sequence
    * boundaries — every training sequence is exactly `capacity` tokens
    * except the last, which is what a pretraining dataloader consumes.
    *
    * Output: one row per (chunk, sequence) overlap — the input row plus
    * `cum_weight` (the chunk's exclusive global token offset), `seq_id`,
    * and `seq_tokens` (this chunk's token share inside that sequence).
    * A chunk of weight w lands in sequences floor(start/C)..floor((start+
    * w−1)/C) — the explode fans out ⌈w/C⌉+1 rows at most, so row growth
    * is bounded by the chunk/capacity ratio, not data size.
    *
    * Scale shape: the global token offset is [[packShards]]'s distributed
    * prefix sum (range exchange + per-partition window — no single-task
    * global window); the explode is per-row. Weights must be positive and
    * the key unique. */
  def packSequences(df: DataFrame, keyCol: String, weightCol: String,
                    capacity: Long, numPartitions: Int = 0): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val packed = packShards(df.filter(col(weightCol) > 0), keyCol, weightCol,
      capacity, numPartitions).drop("shard_id")
    packed
      .withColumn("_last", col("cum_weight") + col(weightCol).cast("long") - 1)
      .withColumn("seq_id",
        explode(sequence(expr(s"cum_weight div $capacity"),
          expr(s"_last div $capacity"))))
      .withColumn("seq_tokens",
        least(col("_last"), (col("seq_id") + 1) * capacity - 1) -
          greatest(col("cum_weight"), col("seq_id") * capacity) + 1)
      .drop("_last")
  }

  /** Per-sequence manifest off [[packSequences]] output: chunk/document
    * counts, token fill (== capacity except the final sequence), and the
    * contributing document range — what the dataloader consumes to map
    * sequences back to provenance. */
  def sequenceManifest(packed: DataFrame, docCol: String): DataFrame =
    packed.groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col(docCol)).as("n_docs"),
        sum(col("seq_tokens")).as("n_tokens"),
        min(col(docCol)).as("first_doc"),
        max(col(docCol)).as("last_doc"))

  /** Rendezvous (highest-random-weight) shard routing (Thaler & Ravishankar
    * 1996): every key goes to the shard maximizing `hash60(key # shard)` —
    * KEY-AFFINE like hash-mod, but with the property hash-mod lacks:
    * removing or adding one shard moves ONLY the keys that hashed to it
    * (expected 1/n of traffic), where `mod n → mod n−1` reshuffles almost
    * everything. That is the routing a stateful 100 TB serving tier
    * (feature stores, dedup index shards, ANN partitions) needs to
    * survive elastic resizes; spec-pinned as the minimal-disruption
    * invariant and gated as data (q217).
    *
    * Scale shape: a PURE PROJECTION — the |shards| candidate scores fold
    * into one `greatest` of (hash, shard) structs inside whole-stage
    * codegen; no shuffle, no window, no driver state. Built on the md5
    * [[Sketches.hash60]] seam so an external engine restates every
    * assignment. Ties (two shards at the same 60-bit hash for one key,
    * ~2⁻⁶⁰) break to the lexicographically larger shard name. */
  def rendezvousAssign(df: DataFrame, keyCol: String,
                       shards: Seq[String], as: String = "shard"): DataFrame = {
    require(shards.nonEmpty, "rendezvousAssign: need at least one shard")
    require(shards.distinct.size == shards.size,
      "rendezvousAssign: duplicate shard names")
    val scored = shards.map { s =>
      struct(
        Sketches.hash60(concat(col(keyCol).cast("string"), lit("#" + s)))
          .as("h"),
        lit(s).as("s"))
    }
    val winner =
      if (scored.size == 1) scored.head else greatest(scored: _*)
    df.withColumn(as, winner.getField("s"))
  }
}
