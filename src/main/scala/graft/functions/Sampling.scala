package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data curation.
  *
  * `sample()`/reservoir approaches are nondeterministic under retries and
  * repartitioning — poison for reproducible dataset builds. Hash sampling
  * decides per ROW from a stable key: keep the row when its md5-hex prefix
  * sorts below the rate-derived threshold. Properties that matter at
  * 100 TB: no shuffle (a pure filter, pushed to the scan), identical
  * results on any partitioning/cluster size, trivially portable to any
  * engine with md5 (the DuckDB oracle states the same predicate), and
  * composable — the same key always lands in the same side of the cut, so
  * growing the rate strictly grows the sample.
  */
object Sampling {

  /** Lowercase 8-hex-char threshold for a sampling rate in [0, 1]. */
  def thresholdHex(rate: Double): String = {
    val r = math.min(math.max(rate, 0.0), 1.0)
    f"${math.min((r * 4294967296.0).toLong, 4294967295L)}%08x"
  }

  /** Keep-condition for one rate: rate ≥ 1 is an explicit keep-all —
    * the hex threshold caps at "ffffffff" and the comparison is strict, so
    * without the special case the ~2^-32 of keys hashing exactly to the cap
    * would be dropped at rate 1.0. */
  private def keep(key: Column, rate: Double): Column =
    if (rate >= 1.0) lit(true)
    else hashBucket(key) < lit(thresholdHex(rate))

  /** Uniform deterministic sample: keep rows with md5(key) prefix below
    * the threshold; rate ≥ 1.0 keeps every row. */
  def hashSample(df: DataFrame, keyCol: String, rate: Double): DataFrame =
    df.filter(keep(col(keyCol), rate))

  /** The row's stable sampling coordinate (md5-hex prefix of the key). */
  def hashBucket(key: Column): Column =
    substring(md5(key.cast("string")), 1, 8)

  /** Coordinate that FAILS FAST on a null key. The exact-k samplers
    * recover full rows through an equi-semi-join on the key, so a row
    * with a null key would silently vanish from the sample (null never
    * equi-matches); md5(null) is null, so the coalesce fires the error
    * exactly on null keys — a distributed runtime guard with no extra
    * pass over the data. */
  private def coordOrFail(keyCol: String, op: String): Column =
    coalesce(hashBucket(col(keyCol)),
      raise_error(lit(s"$op: sampling key column '$keyCol' contains a " +
        "null - keys must be non-null and unique; filter or fill null " +
        "keys before sampling")).cast("string"))

  /** Stratified deterministic sample: per-stratum rates (e.g. keep 50% of
    * English, 10% of everything else — the usual language/source
    * rebalancing step in corpus curation). */
  def stratifiedSample(df: DataFrame, keyCol: String, stratumCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    val cond = rates.foldLeft(when(lit(false), lit(false))) {
      case (acc, (stratum, rate)) =>
        acc.when(col(stratumCol) === stratum, keep(col(keyCol), rate))
    }.otherwise(keep(col(keyCol), defaultRate))
    df.filter(cond)
  }

  /** Deterministic EXACT-k per-group sample — "give me (up to) k docs per
    * language/source/shard", the fixed-budget counterpart of the rate-based
    * [[stratifiedSample]]. Each group keeps the k rows whose stable md5
    * coordinate sorts lowest (ties broken by key), so the pick is uniform-ish
    * in the key, reproducible under retries and repartitioning, and — unlike
    * a rate — guaranteed to return exactly min(k, |group|) rows per group.
    *
    * Scale shape: the per-group rank is [[Sharding.groupedPrefixSum]]
    * with weight 1 — range exchange on (group, coordinate), broadcast
    * offsets, windows partitioned by the RANGE id — so a hot group never
    * funnels onto one task the way a `PARTITION BY group` window would
    * (the hazard class this library outlaws everywhere else). Only the
    * NARROW (group, key, coordinate) projection rides the rank machinery
    * (and its materialization); full rows rejoin by key at the end, so
    * keys must be unique AND non-null (a null key can't equi-rejoin — the
    * coordinate guard fails fast rather than silently dropping the row).
    * The group column must be LOW-cardinality
    * (languages/sources — groupedPrefixSum holds numPartitions×|groups|
    * offset rows on the driver); for per-document tops use
    * [[graft.functions.Sketches.topK]] instead. Null groups sample like
    * any other group. */
  def perGroupSample(df: DataFrame, keyCol: String, groupCol: String,
                     k: Int): DataFrame = {
    val narrow = df.select(col(groupCol), col(keyCol))
      .withColumn("_graft_coord", coordOrFail(keyCol, "perGroupSample"))
      .withColumn("_graft_one", lit(1L))
    val winners = Sharding.groupedPrefixSum(narrow, Seq(groupCol),
        Seq("_graft_coord", keyCol), "_graft_one")
      .filter(col("cum_weight") < k)
      .select(col(keyCol))
    df.join(winners, Seq(keyCol), "left_semi")
      // using-columns joins front-load the key; restore the input order
      .select(df.columns.map(col): _*)
  }

  /** Rebalance to a TARGET MIXTURE: the largest deterministic sample whose
    * strata hit the given proportions exactly (up to floor rounding) — "make
    * the corpus 50% en / 25% es / 25% de" for training-mix control.
    *
    * The feasible scale is set by the scarcest stratum: K = min_s(n_s/p_s),
    * each stratum keeps k_s = floor(K·p_s) rows (provably ≤ n_s), picked by
    * the stable md5 coordinate as in [[perGroupSample]]. Strata outside
    * `targets` are dropped; a target stratum with NO rows makes the mixture
    * infeasible at any size → empty result. Driver-side data: one (stratum,
    * count) row per target stratum.
    *
    * Deterministic end-to-end (counts are exact, the pick is hash-ordered),
    * so the same corpus always yields the same mixture — and the arithmetic
    * (÷, min, ×, floor on doubles) restates exactly in SQL for the q65
    * oracle. */
  def mixtureSample(df: DataFrame, keyCol: String, stratumCol: String,
                    targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0.0),
      "targets must be positive proportions")
    // string-cast equality END TO END: the filter, the count keys, and the
    // per-stratum k lookup all compare Spark's string rendering of the
    // stratum against the target keys — one consistent semantic for
    // non-string stratum columns (int codes match "1"; a double column's
    // "1.0" must be keyed as "1.0"), never a filter/count mismatch that
    // would silently zero the mixture
    val stratumStr = col(stratumCol).cast("string")
    val inTargets = df.filter(stratumStr.isin(targets.keys.toSeq: _*))
    val counts = inTargets.groupBy(stratumStr.as("_graft_s")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val scale =
      if (targets.keys.exists(s => !counts.contains(s))) 0.0
      else targets.map { case (s, p) => counts(s).toDouble / p }.min
    val ks = targets.map { case (s, p) => s -> math.floor(scale * p).toLong }
    val kExpr = targets.keys.foldLeft(when(lit(false), lit(0L))) { (acc, s) =>
      acc.when(stratumStr === s, lit(ks(s)))
    }.otherwise(lit(0L))
    // per-stratum rank via the distributed grouped prefix sum — a
    // PARTITION BY stratum window would move each whole stratum (data-
    // sized at a real mixture) onto a single task. Only the narrow
    // (stratum, key, coordinate) projection rides the rank machinery;
    // full rows rejoin by (unique) key — see perGroupSample
    val narrow = inTargets.select(col(stratumCol), col(keyCol))
      .withColumn("_graft_coord", coordOrFail(keyCol, "mixtureSample"))
      .withColumn("_graft_one", lit(1L))
    val winners = Sharding.groupedPrefixSum(narrow, Seq(stratumCol),
        Seq("_graft_coord", keyCol), "_graft_one")
      .filter(col("cum_weight") < kExpr)
      .select(col(keyCol))
    inTargets.join(winners, Seq(keyCol), "left_semi")
      .select(df.columns.map(col): _*)
  }

  /** Per-group dataset PRUNING by score percentile — keep each group's
    * lowest-scoring `floor(keepFrac · n_g)` rows (ties broken by key),
    * the CCNet/perplexity-filtering shape: "keep the cleanest 70% of
    * each language by LM bits-per-token" (or any quality/length score;
    * negate the score column to keep the highest). Fully deterministic:
    * the cut depends only on the data, never on partitioning.
    *
    * Scale shape: the rank is [[Sharding.groupedPrefixSum]] over the
    * NARROW (group, score, key) projection — range exchange + broadcast
    * offsets, no `PARTITION BY group` window, so a skewed group (one
    * language dominating a crawl) never funnels onto one task. Group
    * totals ride a separate partial-agg count joined null-safely (a
    * null group prunes like any other group); full rows rejoin by key,
    * so keys must be unique AND non-null (guarded with a distributed
    * fail-fast — a null key cannot equi-rejoin and would silently
    * vanish). The group column must be LOW-cardinality
    * (languages/sources — the groupedPrefixSum driver-side offset
    * bound applies). */
  def pruneByScore(df: DataFrame, keyCol: String, groupCol: String,
                   scoreCol: String, keepFrac: Double): DataFrame = {
    require(keepFrac >= 0.0 && keepFrac <= 1.0,
      "keepFrac must be in [0, 1]")
    val keyType = df.schema(keyCol).dataType
    val narrow = df.select(col(groupCol), col(scoreCol),
        coalesce(col(keyCol),
          raise_error(lit(s"pruneByScore: key column '$keyCol' contains " +
            "a null - keys must be non-null and unique; filter or fill " +
            "null keys before pruning")).cast(keyType)).as(keyCol))
      .withColumn("_graft_one", lit(1L))
    val ranked = Sharding.groupedPrefixSum(narrow, Seq(groupCol),
      Seq(scoreCol, keyCol), "_graft_one")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_graft_n"))
    val winners = ranked.join(broadcast(counts),
        ranked(groupCol) <=> counts(groupCol))
      .filter(col("cum_weight") < floor(lit(keepFrac) * col("_graft_n")))
      .select(ranked(keyCol))
    df.join(winners, Seq(keyCol), "left_semi")
      .select(df.columns.map(col): _*)
  }

  /** Deterministic WEIGHTED sample without replacement — "pick k docs,
    * favoring the high-quality / long / rare ones" with integer weights.
    *
    * Lottery formulation: a row with weight w holds w tickets; ticket i's
    * value is the portable numeric [[Sketches.hash60]] of `key:i`; the
    * row's priority is its minimum ticket and the k smallest priorities
    * win (ties broken by key).
    * P(priority < x) = 1 − (1 − x)^w, strictly increasing in w, so
    * this is Efraimidis–Spirakis A-Res with the min-of-w-uniforms key
    * transform in place of u^(1/w) — same weighted-order-statistics
    * machinery, but integer-exact and ENGINE-PORTABLE: no pow/ln whose
    * last-ulp differences between libm and the JVM could flip a rank
    * cross-engine (the hazard the BM25 oracle documents). The q107 oracle
    * restates the identical tickets with range+md5 in SQL.
    *
    * Scale shape: only the narrow (key, weight) projection is exploded
    * (×avg(w) rows of two columns); min(ticket) partially aggregates
    * map-side — the ticket is the NUMERIC hash60 precisely so the min
    * buffer stays primitive and the aggregation stays HashAggregate (a
    * string ticket demotes to SortAggregate, which sorts the whole
    * exploded frame per partition; pinned by PlanShapeSpec) — and the
    * global top-k is a TakeOrdered (per-partition heads, never a full
    * sort). Full rows rejoin by key, so keys must be unique and
    * non-null, and weights non-null and ≥ 1 — both guarded with a
    * distributed fail-fast rather than a silent drop. Weights are capped
    * at 1000 to bound the ticket blow-up; rescale weights (they only
    * matter relatively) to stay under it. */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val maxWeight = 1000L
    val wGuard = when(col(weightCol).isNull || col(weightCol) < 1,
        raise_error(concat(lit(s"weightedSample: weight column '$weightCol' " +
          "must be non-null and >= 1, got "), col(weightCol).cast("string")))
          .cast("long"))
      .when(col(weightCol) > maxWeight,
        raise_error(concat(lit(s"weightedSample: weight exceeds maxWeight=" +
          s"$maxWeight (rescale weights - only ratios matter): "),
          col(weightCol).cast("string"))).cast("long"))
      .otherwise(col(weightCol).cast("long"))
    val keyStr = coalesce(col(keyCol).cast("string"),
      raise_error(lit(s"weightedSample: key column '$keyCol' contains a " +
        "null - keys must be non-null and unique")).cast("string"))
    val winners = df.select(keyStr.as("_graft_key"), wGuard.as("_graft_w"))
      .select(col("_graft_key"),
        explode(sequence(lit(0L), col("_graft_w") - 1)).as("_graft_i"))
      .select(col("_graft_key"),
        Sketches.hash60(concat(col("_graft_key"), lit(":"),
          col("_graft_i").cast("string"))).as("_graft_ticket"))
      .groupBy(col("_graft_key"))
      .agg(min(col("_graft_ticket")).as("_graft_priority"))
      .orderBy(col("_graft_priority"), col("_graft_key"))
      .limit(k)
      .select(col("_graft_key").as(keyCol))
    df.join(winners.select(col(keyCol).cast(df.schema(keyCol).dataType)
        .as(keyCol)), Seq(keyCol), "left_semi")
      .select(df.columns.map(col): _*)
  }

  /** Deterministic weighted reservoir sampling WITHOUT replacement —
    * Efraimidis–Spirakis bottom-k, restated portably: item priority
    * `u^(1/w)` becomes the exact integer rank `hash60(key) div w`
    * (for the k smallest ranks, `−ln u ≈ 1−u`, so ranking by
    * `u'/w` with `u' = hash60 ∈ [0, 2^60)` is the E-S order in the
    * regime bottom-k ever reads), ties broken by `(hash, key)` — a
    * total order both engines compute bit-identically with pure BIGINT
    * ops: no ticket explosion (any weight magnitude at O(1) rows, where
    * [[weightedSample]] explodes `w` tickets), no transcendentals, no
    * floats. Output: the sampled rows plus `sample_rank` 1..k in
    * selection order (the oracle-pinned order).
    *
    * MAINTENANCE is the KMV eviction argument: an item's rank is a pure
    * function of (key, weight), and the k-th smallest rank only ever
    * decreases — once evicted, never re-admitted, so the standing
    * reservoir folds per wave at ≤ k state rows
    * ([[weightedReservoirMaintain]]), and re-delivered rows are
    * idempotent (same key → same rank → same slot).
    *
    * Scale shape: one projection + TakeOrdered top-k (partial per
    * partition, k rows to the driver-side heap) — the only window runs
    * over the ≤ k post-limit rows. Weights must be ≥ 1 (fail loudly);
    * keys non-null and unique. */
  def weightedReservoir(df: DataFrame, keyCol: String, weightCol: String,
                        k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val wGuard = when(col(weightCol).isNull || col(weightCol) < 1,
        raise_error(concat(lit(s"weightedReservoir: weight column " +
          s"'$weightCol' must be non-null and >= 1, got "),
          col(weightCol).cast("string"))).cast("long"))
      .otherwise(col(weightCol).cast("long"))
    val keyStr = coalesce(col(keyCol).cast("string"),
      raise_error(lit(s"weightedReservoir: key column '$keyCol' contains " +
        "a null - keys must be non-null and unique")).cast("string"))
    val ranked = df
      .withColumn("_graft_h", Sketches.hash60(keyStr))
      .withColumn("_graft_w", wGuard)
      .withColumn("_graft_rank", expr("_graft_h div _graft_w"))
    val topK = ranked
      .orderBy(col("_graft_rank"), col("_graft_h"), col(keyCol))
      .limit(k)
    topK.withColumn("sample_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("_graft_rank"), col("_graft_h"), col(keyCol))))
      .drop("_graft_h", "_graft_w", "_graft_rank")
  }

  /** PER-GROUP weighted reservoir — [[weightedReservoir]]'s exact
    * integer rank (`hash60(key) div w`, ties `(hash, key)`) applied
    * with a k-per-group budget: "20 weighted-representative docs per
    * language". The per-group bottom-k rides
    * [[Sharding.groupedPrefixSum]] (range exchange, broadcast offsets)
    * rather than a PARTITION BY group window, so a hot group never
    * funnels onto one task; groups must be LOW-cardinality (the
    * grouped-prefix-sum driver contract). Output adds `sample_rank`
    * (1..k within the group, selection order). Same maintenance
    * algebra as the global variant: ranks are pure row functions, so
    * per-group bottom-k folds wave-by-wave with the KMV eviction
    * argument. */
  def weightedReservoirByGroup(df: DataFrame, keyCol: String,
                               groupCol: String, weightCol: String,
                               k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val wGuard = when(col(weightCol).isNull || col(weightCol) < 1,
        raise_error(concat(lit(s"weightedReservoirByGroup: weight column " +
          s"'$weightCol' must be non-null and >= 1, got "),
          col(weightCol).cast("string"))).cast("long"))
      .otherwise(col(weightCol).cast("long"))
    val keyStr = coalesce(col(keyCol).cast("string"),
      raise_error(lit(s"weightedReservoirByGroup: key column '$keyCol' " +
        "contains a null - keys must be non-null and unique"))
        .cast("string"))
    val narrow = df.select(col(groupCol), col(keyCol), col(weightCol))
      .withColumn("_graft_h", Sketches.hash60(keyStr))
      .withColumn("_graft_w", wGuard)
      .withColumn("_graft_rank", expr("_graft_h div _graft_w"))
      .withColumn("_graft_one", lit(1L))
      .drop(weightCol)
    val winners = Sharding.groupedPrefixSum(narrow, Seq(groupCol),
        Seq("_graft_rank", "_graft_h", keyCol), "_graft_one")
      .filter(col("cum_weight") < k)
      .select(col(keyCol), (col("cum_weight") + 1).as("sample_rank"))
    df.join(winners, Seq(keyCol))
      .select(df.columns.map(col) :+ col("sample_rank"): _*)
  }

  /** Fold one wave into a standing weighted reservoir: bottom-k of
    * (state ∪ wave) with re-delivered keys deduplicated — entry-
    * identical to a one-shot [[weightedReservoir]] over every wave, in
    * any wave order (ranks are pure functions of the rows; set union
    * commutes). `state` is a prior output of this function or of
    * [[weightedReservoir]]; pass an empty frame to start. */
  def weightedReservoirMaintain(state: DataFrame, wave: DataFrame,
                                keyCol: String, weightCol: String,
                                k: Int): DataFrame = {
    val cols = wave.columns.filter(_ != "sample_rank")
    val union = state.select(cols.map(col): _*)
      .unionByName(wave.select(cols.map(col): _*))
      .dropDuplicates(keyCol)
    weightedReservoir(union, keyCol, weightCol, k)
  }

  /** EXACT-total stratified allocation — largest-remainder (Hamilton)
    * apportionment: split `budget` rows across strata in EXACT
    * proportion to stratum sizes, Σk_s = budget always (floor-based
    * allocations like [[mixtureSample]]'s lose up to |strata|−1 rows to
    * rounding; an eval/holdout budget is usually a contract, not a
    * hint). Pure integer arithmetic: floor_s = budget·n_s div N,
    * remainder r_s = budget·n_s mod N, and the `budget − Σfloor` spare
    * rows go to the largest remainders (ties: larger stratum, then
    * stratum value) — both engines restate it term for term (products
    * in DECIMAL(38,0); budget·n_s would overflow Long at warehouse
    * counts). Selection within a stratum is the stable md5 pick of
    * [[perGroupSample]] riding the same range-partitioned grouped
    * prefix sum — no PARTITION BY stratum window over row-scale frames.
    * The only ordered window ranks ONE ROW PER STRATUM (the
    * low-cardinality contract all per-stratum samplers share).
    * `budget` > corpus fails loudly (quota q_s ≤ n_s requires
    * budget ≤ N, and silently under-delivering a contract is worse
    * than failing). Keys must be unique and non-null. */
  def largestRemainderSample(df: DataFrame, keyCol: String,
                             stratumCol: String, budget: Long): DataFrame = {
    require(budget >= 0, "largestRemainderSample: budget must be >= 0")
    if (budget == 0) return df.limit(0)
    val dec = "decimal(38,0)"
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
    val tot = counts.agg(sum(col("_n")).as("_nt"))
      .select(when(col("_nt") >= budget, col("_nt"))
        .otherwise(raise_error(concat(
          lit(s"largestRemainderSample: budget $budget exceeds corpus "),
          col("_nt").cast("string")))).as("_nt"))
    val alloc0 = counts.crossJoin(broadcast(tot))
      .withColumn("_floor",
        expr(s"CAST($budget AS $dec) * _n div _nt"))
      .withColumn("_rem",
        expr(s"CAST(CAST($budget AS $dec) * _n % _nt AS BIGINT)"))
    val spare = alloc0.agg((lit(budget) - sum(col("_floor"))).as("_x"))
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy(col("_rem").desc, col("_n").desc, col(stratumCol))
    val alloc = alloc0.crossJoin(broadcast(spare))
      .withColumn("_k", col("_floor") +
        when(row_number().over(wr) <= col("_x"), 1L).otherwise(0L))
      .select(col(stratumCol), col("_k"))
    val narrow = df.select(col(stratumCol), col(keyCol))
      .withColumn("_graft_coord",
        coordOrFail(keyCol, "largestRemainderSample"))
      .withColumn("_graft_one", lit(1L))
    val winners = Sharding.groupedPrefixSum(narrow, Seq(stratumCol),
        Seq("_graft_coord", keyCol), "_graft_one")
      .join(broadcast(alloc), Seq(stratumCol))
      .filter(col("cum_weight") < col("_k"))
      .select(col(keyCol))
    df.join(winners, Seq(keyCol), "left_semi")
      .select(df.columns.map(col): _*)
  }

  /** Sub-linear BUDGET ALLOCATION across strata: give stratum s
    * k_s = ⌊budget · √n_s / Σ√n⌋ rows — the square-root rule that damps
    * head-heavy corpora (a 100× bigger source gets 10× the rows, not
    * 100×), the standard compromise between proportional sampling
    * (reproduces the skew) and uniform-per-stratum (starves the head).
    * Selection within a stratum is the stable md5 pick of
    * [[perGroupSample]]; a stratum whose allocation exceeds its size
    * keeps everything (the rank filter caps at n_s naturally).
    *
    * Portability: √n is floored to an INTEGER weight before the
    * allocation arithmetic, so Σ√ is an exact integer sum (order-free —
    * a double Σ√ would make the result depend on summation order across
    * strata) and k_s = budget·⌊√n_s⌋ ÷ Σ is pure integer division —
    * restating bit-identically in SQL (q118). IEEE sqrt is correctly
    * rounded, so ⌊√n⌋ agrees across engines.
    *
    * Scale shape: identical to [[mixtureSample]] — driver holds one
    * (stratum, count) row per stratum (low-cardinality contract), the
    * rank rides the range-partitioned grouped prefix sum, full rows
    * rejoin by unique non-null key. */
  def sqrtAllocatedSample(df: DataFrame, keyCol: String, stratumCol: String,
                          budget: Long): DataFrame = {
    require(budget >= 1, s"sqrtAllocatedSample: budget must be >= 1")
    val stratumStr = col(stratumCol).cast("string")
    val counts = df.groupBy(stratumStr.as("_graft_s")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sq = counts.map { case (s, n) =>
      s -> math.floor(math.sqrt(n.toDouble)).toLong
    }
    val total = sq.values.sum
    require(total > 0, "sqrtAllocatedSample: empty input")
    require(sq.values.forall(w => w == 0L || budget <= Long.MaxValue / w),
      s"sqrtAllocatedSample: budget=$budget overflows the integer " +
        "allocation - rescale the budget")
    val ks = sq.map { case (s, w) => s -> budget * w / total }
    val kExpr = ks.foldLeft(when(lit(false), lit(0L))) { case (acc, (s, k)) =>
      acc.when(stratumStr === s, lit(k))
    }.otherwise(lit(0L))
    val narrow = df.select(col(stratumCol), col(keyCol))
      .withColumn("_graft_coord", coordOrFail(keyCol, "sqrtAllocatedSample"))
      .withColumn("_graft_one", lit(1L))
    val winners = Sharding.groupedPrefixSum(narrow, Seq(stratumCol),
        Seq("_graft_coord", keyCol), "_graft_one")
      .filter(col("cum_weight") < kExpr)
      .select(col(keyCol))
    df.join(winners, Seq(keyCol), "left_semi")
      .select(df.columns.map(col): _*)
  }

  /** Deterministic NEGATIVE SAMPLING for contrastive training data: every
    * row gets `k` pseudo-random partners ("negatives") drawn from the rest
    * of the corpus — reproducible, shuffle-light, and collision-free by
    * construction. Rows are ranked on a hash ring (md5 coordinate — a
    * stateless pseudo-random permutation); anchor at rank r takes the rows
    * at ranks (r + off_j) mod N for k evenly-spread offsets
    * off_j = 1 + ⌊j·N/(k+1)⌋. Because every offset is a fixed rotation,
    * each row serves as negative exactly k times (balanced usage — no
    * coupon-collector hot spots), no row partners itself (guarded), and
    * the whole assignment restates in SQL for the q116 oracle.
    *
    * Scale shape: the ring rank is the distributed grouped prefix sum
    * (range exchange, never a global window); the partner lookup is one
    * equi shuffle join on rank after a k-fold explode of narrow
    * (id, rank) rows. Driver state: the row count and k offsets. */
  def ringNegatives(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 1, "ringNegatives: k must be >= 1")
    val narrow = df.select(col(idCol))
      .withColumn("_graft_coord", coordOrFail(idCol, "ringNegatives"))
      .withColumn("_graft_g", lit(0))
      .withColumn("_graft_one", lit(1L))
    val ranked = Sharding.groupedPrefixSum(narrow, Seq("_graft_g"),
        Seq("_graft_coord", idCol), "_graft_one")
      .select(col(idCol), col("cum_weight").as("_graft_rank"))
      .localCheckpoint() // anchors + partner side both read it
    val n = ranked.count()
    require(n > k,
      s"ringNegatives: need more than k=$k rows, got $n")
    val offsets = (1 to k).map(j => 1L + j.toLong * n / (k + 1))
    require(offsets.distinct.size == k && offsets.forall(_ % n != 0L),
      s"ringNegatives: k=$k too large for n=$n - offsets collide or wrap " +
        "to self; lower k")
    val offFrame = explode(array(offsets.zipWithIndex.map { case (off, i) =>
      struct(lit((i + 1).toLong).as("neg_idx"), lit(off).as("off"))
    }: _*)).as("_graft_o")
    ranked.select(col(idCol).as("anchor_id"), col("_graft_rank"), offFrame)
      .select(col("anchor_id"), col("_graft_o.neg_idx").as("neg_idx"),
        pmod(col("_graft_rank") + col("_graft_o.off"), lit(n))
          .as("_graft_rank"))
      .join(ranked.select(col(idCol).as("neg_id"), col("_graft_rank")),
        Seq("_graft_rank"))
      .select(col("anchor_id"), col("neg_idx"), col("neg_id"))
  }

  /** Budget selection by cumulative MASS — "keep the highest-priority
    * rows until they hold fracNum/fracDen of the corpus's total
    * weight": the token-budget curation move (fill a training budget
    * from the top of a quality/length ordering, drop the tail). Runs
    * on [[Sharding.packShards]]'s range-exchange prefix sum (one range
    * shuffle + broadcast per-partition offsets) — never a global
    * ORDER BY window that funnels the corpus through one task, and the
    * total comes from the prefix sum's own pinned output (no second
    * input scan). The boundary-crossing row is KEPT (exclusive prefix
    * < budget), the shard-packing rule. Arithmetic is exact integers
    * end to end (`cum·den < tot·num` — no fp boundary drift; the
    * overflow headroom is checked loudly). `priorityCol` must be a
    * NUMERIC, non-null column (its type is preserved — a double
    * quality score orders at full precision); ties at equal priority
    * break by `idCol`; ids must be unique. */
  def massBudgetSelect(df: DataFrame, idCol: String, priorityCol: String,
                       weightCol: String, fracNum: Long,
                       fracDen: Long): DataFrame = {
    require(fracNum >= 0 && fracDen > 0 && fracNum <= fracDen,
      s"massBudgetSelect: need 0 <= fracNum <= fracDen, got $fracNum/$fracDen")
    require(!df.columns.contains("cum_weight") &&
        !df.columns.contains("shard_id"),
      "massBudgetSelect: input already has a cum_weight/shard_id column" +
        " - rename it first")
    val keyed = df.withColumn("_graft_mass_key",
      struct(orderKey(priorityCol, "massBudgetSelect").as("p"),
        col(idCol).as("k")))
    val packed = Sharding.packShards(keyed, "_graft_mass_key", weightCol,
      budget = Long.MaxValue)
    // total = the prefix sum's own last edge; packShards localCheckpoints,
    // so this aggregate re-reads the pinned output, never the input
    val tot = packed
      .agg(coalesce(max(col("cum_weight") + col(weightCol).cast("long")),
        lit(0L))).head().getLong(0)
    guardBudgetOverflow(tot, fracNum, fracDen, "massBudgetSelect")
    packed
      .where(col("cum_weight") * fracDen < lit(tot) * fracNum)
      .drop("_graft_mass_key", "shard_id", "cum_weight")
  }

  /** Per-GROUP [[massBudgetSelect]] — each group (language, source)
    * fills its own fracNum/fracDen share of ITS total weight: the
    * per-domain budget practice (a global budget would let one huge
    * domain starve the rest). One grouped range-exchange prefix sum
    * ([[Sharding.groupedPrefixSum]] — group cardinality must be low by
    * its contract) plus one broadcast of per-group totals derived from
    * the prefix sum's own pinned output; same exact integer boundary
    * and keep-the-boundary-row rule. A NULL group value is still a
    * group (the totals join is null-safe, matching groupedPrefixSum's
    * contract). */
  def massBudgetSelectBy(df: DataFrame, groupCols: Seq[String],
                         idCol: String, priorityCol: String,
                         weightCol: String, fracNum: Long,
                         fracDen: Long): DataFrame = {
    require(fracNum >= 0 && fracDen > 0 && fracNum <= fracDen,
      s"massBudgetSelectBy: need 0 <= fracNum <= fracDen, got $fracNum/$fracDen")
    val keyed = df.withColumn("_graft_negp",
      orderKey(priorityCol, "massBudgetSelectBy"))
    val prefixed = Sharding.groupedPrefixSum(keyed, groupCols,
      Seq("_graft_negp", idCol), weightCol)
    // per-group totals from the pinned prefix output (one small agg, no
    // second input scan), joined back NULL-SAFELY — a null group is
    // still a group, an equi-join would silently drop its rows
    val totals = prefixed.groupBy(groupCols.map(col): _*)
      .agg(coalesce(max(col("cum_weight") + col(weightCol).cast("long")),
        lit(0L)).as("_graft_tot"))
      .select(groupCols.map(c => col(c).as(s"_graft_g_$c")) :+
        col("_graft_tot"): _*)
    val maxTot = totals.agg(coalesce(max(col("_graft_tot")), lit(0L)))
      .head().getLong(0)
    guardBudgetOverflow(maxTot, fracNum, fracDen, "massBudgetSelectBy")
    val joinCond = groupCols.map(c => col(c) <=> col(s"_graft_g_$c"))
      .reduce(_ && _)
    prefixed.join(broadcast(totals), joinCond)
      .where(col("cum_weight") * fracDen < col("_graft_tot") * fracNum)
      .drop(Seq("_graft_negp", "_graft_tot", "cum_weight") ++
        groupCols.map(c => s"_graft_g_$c"): _*)
  }

  /** Numeric, loudly-null-checked ordering key, negated so the highest
    * priority sorts first (type preserved — no silent cast-to-long
    * truncation of a double score). */
  private def orderKey(priorityCol: String, fn: String): Column = {
    val p = col(priorityCol)
    val guarded = when(p.isNull, raise_error(lit(
      s"$fn: null $priorityCol - null priorities have no defined rank; " +
        "filter or coalesce them first"))).otherwise(p)
    guarded * lit(-1)
  }

  private def guardBudgetOverflow(tot: Long, fracNum: Long, fracDen: Long,
                                  fn: String): Unit =
    require(tot <= Long.MaxValue / math.max(math.max(fracNum, fracDen), 1L),
      s"$fn: total weight $tot times fraction parts $fracNum/$fracDen " +
        "would overflow Long - rescale the weights or the fraction")

  /** Deterministic disjoint split (train/val/test): each row lands in
    * exactly one labeled split by comparing its stable md5 coordinate
    * against cumulative hex thresholds — shuffle-free, reproducible under
    * retries and repartitioning, and stable as the corpus grows (a row's
    * split never changes when other rows arrive, unlike `randomSplit`).
    * The LAST split takes the remainder, so fractions that sum to 1.0
    * cover every row (including keys hashing to the "ffffffff" cap that a
    * strict `<` would orphan).
    *
    * Returns the frame with a `split` label column appended. The same
    * CASE over md5 prefixes restates verbatim in SQL (q77's oracle). */
  def hashSplit(df: DataFrame, keyCol: String,
                splits: Seq[(String, Double)]): DataFrame = {
    require(splits.size >= 2, "need at least two splits")
    require(splits.map(_._2).forall(_ > 0.0), "fractions must be positive")
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val coord = hashBucket(col(keyCol))
    val cond = splits.init.zip(cum.init)
      .foldLeft(when(lit(false), lit(""))) { case (acc, ((label, _), c)) =>
        acc.when(coord < lit(thresholdHex(c)), lit(label))
      }.otherwise(lit(splits.last._1))
    df.withColumn("split", cond)
  }

  /** Leakage-SAFE train/val/test split: assign splits at near-duplicate
    * CLUSTER granularity, so a document and all its near-copies land in
    * the SAME split by construction — the constructive counterpart of the
    * q100 split-leakage audit (which measures what per-document splitting
    * leaks). `pairs` is any near-dup pair frame ([[graft.functions
    * .FuzzyDedup]], `Dedup.minhashNearDups`, …); rows it never mentions
    * are singleton clusters of their own id. Appends `cluster_id` (the
    * component's minimum id) and `split` (the md5 cut of the CLUSTER id —
    * same portable-hash seam as [[hashSplit]], restated verbatim in the
    * q125 oracle). Fractions land cluster-wise, so realized row
    * proportions track the targets only as closely as cluster sizes
    * allow — that skew is inherent to leakage-safe splitting, not a bug. */
  def clusterSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String, bCol: String,
                       splits: Seq[(String, Double)]): DataFrame =
    hashSplit(
      graft.operators.Components.assignClusters(df, idCol, pairs, aCol, bCol),
      "cluster_id", splits)

  /** Temperature-sampled mixture allocation at alpha = 1/2: each group's
    * draw weight is sqrt(its row count) — the multilingual-training rebalance
    * (sample language l with probability proportional to p_l^alpha, so head
    * languages shrink and tail languages grow). A `budget` of total draws is
    * split across groups by LARGEST-REMAINDER apportionment, so allocations
    * are integers that sum exactly to the budget.
    *
    * Exactness: alpha = 1/2 is chosen because `floor(sqrt(n))` is the ONLY
    * temperature whose weight is engine-portable — IEEE-754 sqrt is
    * correctly rounded in both the JVM and DuckDB, and for n < 2^52 the
    * floor cannot land on the wrong side of an integer (the true sqrt of a
    * non-square is at distance >= ~1/(2·sqrt(n)) from the nearest integer,
    * orders of magnitude beyond the rounding error). Everything after the
    * isqrt is exact integer arithmetic: quotas compare `budget·w` against
    * `W` (long multiply — caller keeps `budget·max(w)` < 2^63), remainders
    * rank by `(budget·w) mod W` with group-name tiebreak.
    *
    * Scale shape: one map-side-combinable `groupBy(group).count` reduces the
    * corpus to a group-cardinality frame; the apportionment window runs over
    * THAT frame (groups, not rows — bounded by design), never the corpus.
    */
  def temperatureAllocation(df: DataFrame, groupCol: String,
                            budget: Long): DataFrame = {
    require(budget >= 0, s"temperatureAllocation: budget $budget < 0")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_rows"))
      .withColumn("weight", floor(sqrt(col("n_rows"))).cast("long"))
    val tot = broadcast(counts.agg(sum(col("weight")).as("_w_total")))
    val quota = counts.crossJoin(tot)
      .withColumn("_num", lit(budget) * col("weight"))
      // `div` = exact integer division; `/` would round through a double
      .withColumn("alloc_floor", expr("_num div _w_total"))
      .withColumn("_rem", pmod(col("_num"), col("_w_total")))
    // leftover seats = budget - sum(floors) = sum(remainders)/W (exact by
    // construction); hand one each to the largest remainders (group-name
    // tiebreak). Both windows run over the group-cardinality frame only.
    val order = org.apache.spark.sql.expressions.Window
      .orderBy(col("_rem").desc, col(groupCol))
    val all = org.apache.spark.sql.expressions.Window
      .orderBy(col("_rem").desc, col(groupCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    quota
      .withColumn("_leftover", lit(budget) - sum(col("alloc_floor")).over(all))
      .withColumn("alloc",
        col("alloc_floor") +
          when(row_number().over(order) <= col("_leftover"), 1L).otherwise(0L))
      .select(col(groupCol), col("n_rows"), col("weight"), col("alloc"))
  }
}
