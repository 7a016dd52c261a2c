package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension Type-2 history — the warehouse-side shape the
  * reference's staging→warehouse upsert (J1, reference `merge_proc.sql`
  * pattern) loses: an upsert overwrites, SCD2 keeps every version with its
  * validity interval. Two entry points:
  *
  *  - [[fromChangeLog]]: compact a change stream (key, ts, attrs) into
  *    per-key version intervals — consecutive rows with identical tracked
  *    attributes collapse into one interval.
  *  - [[merge]]: apply a NEW batch of changes to an existing SCD2 frame
  *    without rewriting closed history — closed versions pass through
  *    untouched; only each affected key's current row and its new changes
  *    are re-compacted, so the incremental cost is proportional to the
  *    batch, not the dimension history.
  *
  * Scale shape: windows partition by the DIMENSION KEY — high cardinality
  * (good parallelism) with per-key change history as the partition size,
  * which is bounded by update frequency, not table size. No driver data,
  * no cross-key state. `merge` joins on the same key the windows partition
  * by, so AQE plans one co-partitioned exchange chain.
  */
object Scd2 {

  /** History columns appended to (keys ++ attrs). */
  val metaCols: Seq[String] = Seq("valid_from", "valid_to", "version", "is_current")

  /** Compact a change log into SCD2 intervals.
    *
    * @param log      change events: one row per observation of the entity
    * @param keyCols  dimension key
    * @param tsCol    event-time column (interval boundaries)
    * @param attrCols tracked attributes: a new version starts when any differs
    *                 (null-safe compare) from the previous observation
    * @param tieCols  deterministic order within equal timestamps
    * @return (keys ++ attrs ++ valid_from, valid_to, version, is_current),
    *         `valid_to` null on the open (current) interval
    */
  def fromChangeLog(log: DataFrame, keyCols: Seq[String], tsCol: String,
                    attrCols: Seq[String],
                    tieCols: Seq[String] = Nil): DataFrame = {
    require(keyCols.nonEmpty && attrCols.nonEmpty,
      "fromChangeLog: need key and attribute columns")
    val ord = (col(tsCol) +: tieCols.map(col)).map(_.asc)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    // a run starts where any tracked attribute null-safely differs from the
    // previous observation (lag is null on the first row -> <=> is false
    // unless the attr is also null; the row_number()=1 guard keeps it)
    val isStart = attrCols.map(a => !(col(a) <=> lag(col(a), 1).over(w)))
      .reduce(_ || _) || row_number().over(w) === 1
    val starts = log
      .select((keyCols ++ attrCols :+ tsCol).map(col) ++ tieCols.map(col): _*)
      .withColumn("_start", isStart)
      .filter(col("_start"))
    // runs are strictly ordered by (ts, ties) within a key; versions and
    // valid_to come from one more pass over the (much smaller) run frame
    val wRuns = Window.partitionBy(keyCols.map(col): _*).orderBy(ord: _*)
    starts
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(wRuns))
      .withColumn("version",
        row_number().over(wRuns).cast("long"))
      .withColumn("is_current", col("valid_to").isNull)
      .select((keyCols ++ attrCols ++ metaCols).map(col): _*)
  }

  /** Apply a batch of new changes to an existing SCD2 frame.
    *
    * Closed versions (`is_current = false`) pass through untouched. Each
    * affected key's CURRENT row is restated as a change at its own
    * `valid_from` and re-compacted together with the key's new updates, so
    * an update batch whose attributes equal the current row produces no new
    * version (the run collapses), and version numbers continue from the
    * current row's. Keys new to the dimension start at version 1.
    *
    * Contract: every update timestamp must be >= the affected key's current
    * `valid_from` (late updates would need closed-history rewrite — use
    * [[fromChangeLog]] over the full log for that).
    */
  def merge(dim: DataFrame, updates: DataFrame, keyCols: Seq[String],
            tsCol: String, attrCols: Seq[String],
            tieCols: Seq[String] = Nil): DataFrame = {
    val outCols = (keyCols ++ attrCols ++ metaCols).map(col)
    val closed = dim.filter(!col("is_current")).select(outCols: _*)
    val current = dim.filter(col("is_current"))
    // the current row joins the mini-changelog as its oldest entry; ties
    // sort it first (null tie columns -> nulls first under asc), so an
    // update at the exact same ts starts a new run after it
    val tieNulls =
      tieCols.map(c => lit(null).cast(updates.schema(c).dataType).as(c))
    val curAsLog = current.select(
      (keyCols ++ attrCols).map(col) ++
        (col("valid_from").as(tsCol) +: tieNulls) :+
        col("version").as("_base_version"): _*)
    val updAsLog = updates.select(
      (keyCols ++ attrCols :+ tsCol).map(col) ++ tieCols.map(col) :+
        lit(null).cast("long").as("_base_version"): _*)
    val mini = curAsLog.unionByName(updAsLog)
    // per-key version offset = the current row's version (new keys -> 1),
    // carried as an extra KEY column: constant within a key, so it cannot
    // split runs, and it rides the same exchange the compaction needs
    val baseW = Window.partitionBy(keyCols.map(col): _*)
    val rebuilt = fromChangeLog(
      mini.withColumn("_base",
        coalesce(max(col("_base_version")).over(baseW), lit(1L))),
      keyCols :+ "_base", tsCol, attrCols, tieCols)
    val shifted = rebuilt
      .withColumn("version", col("version") + col("_base") - 1)
      .select(outCols: _*)
    closed.unionByName(shifted)
  }

  /** Apply DELETE tombstones to an SCD2 frame: each deleted key's OPEN
    * interval closes at the tombstone time (`valid_to` = delete ts,
    * `is_current` = false) and NO successor version is minted — the
    * entity ceased to exist, which is exactly the state an
    * overwrite-upsert warehouse cannot represent (the row just
    * disappears there). Closed versions and undeleted keys pass through
    * untouched; a tombstone for an unknown or already-deleted key is a
    * no-op (nothing open to close); multiple tombstones per key close at
    * the EARLIEST. A tombstone earlier than the key's current
    * `valid_from` violates the [[merge]] ordering contract (it would
    * demand closed-history rewrite) and raises a loud distributed error.
    *
    * Scale shape: one left equi-join on the key (tombstone batches are
    * small next to the dimension — AQE broadcasts them), per-row
    * conditional rewrite, no window, no shuffle of the dimension beyond
    * the join. After a delete the key has no current row, so a later
    * [[merge]] re-observing it restarts at version 1 — callers needing
    * resurrection with continued version numbers should recompact from
    * the full log ([[fromChangeLog]]).
    *
    * `deletes`: (keyCols, tsCol) tombstone rows. Output columns = `dim`'s. */
  def applyDeletes(dim: DataFrame, deletes: DataFrame, keyCols: Seq[String],
                   tsCol: String): DataFrame = {
    require(keyCols.nonEmpty, "applyDeletes: need key columns")
    val dels = deletes.groupBy(keyCols.map(col): _*)
      .agg(min(col(tsCol)).as("_graft_del_ts"))
    val closing = col("_graft_del_ts").isNotNull && col("is_current")
    dim.join(dels, keyCols, "left")
      .withColumn("valid_to",
        when(closing,
          when(col("_graft_del_ts") < col("valid_from"),
            raise_error(concat(
              lit("applyDeletes: tombstone precedes the current " +
                "version's valid_from for key "),
              concat_ws(",", keyCols.map(c => col(c).cast("string")): _*),
              lit(" — closed-history rewrite needed; recompact from " +
                "the full log"))))
            .otherwise(col("_graft_del_ts")))
          .otherwise(col("valid_to")))
      .withColumn("is_current", col("is_current") && !closing)
      .drop("_graft_del_ts")
      .select(dim.columns.map(col).toIndexedSeq: _*)
  }

  /** Point-in-time (temporal) lookup: join each fact row to the dimension
    * VERSION valid at its timestamp — `valid_from <= ts < valid_to`, the
    * open (current) interval unbounded above. The classic warehouse
    * "as-was" join an SCD2 history exists to answer; an equi-join on the
    * raw key would attach every version to every fact.
    *
    * Implementation is the [[RangeJoin]] time-bucket shape: intervals
    * explode into `bucketSeconds`-wide buckets, facts hash to their one
    * bucket, and the join is a plain equi-join on (keys, bucket) with the
    * exact half-open predicate as a post-filter — never a cartesian or an
    * inequality join. The open interval is capped at the max fact time
    * via a one-row broadcast aggregate (so its bucket fan-out is bounded
    * by the fact range, not year 9999). Facts with no covering version
    * (before the key's first observation, or an unknown key) drop —
    * inner-join semantics, documented.
    *
    * `dim` must carry the [[metaCols]]; `dimCols` names the payload
    * columns to attach (rename them beforehand if they collide with fact
    * columns). Each fact matches at most ONE version per key because a
    * key's intervals partition its timeline (boundary facts belong to the
    * newer version — half-open).
    *
    * Fan-out guards: EVERY interval — open or closed — is capped at the
    * max fact time before bucketing (a closed version carrying a
    * 9999-12-31 sentinel `valid_to` would otherwise explode one bucket row
    * per `bucketSeconds` to year 9999; capping is filter-safe because no
    * fact lies past the cap), and a version whose capped bucket span still
    * exceeds `maxBucketsPerVersion` raises a loud distributed error (the
    * `Sharding.groupedPrefixSum` guard discipline) instead of silently
    * amplifying — raise `maxBucketsPerVersion`, or `bucketSeconds`, when
    * the fan-out is intended. */
  def pointInTime(facts: DataFrame, dim: DataFrame, keyCols: Seq[String],
                  ptCol: String, bucketSeconds: Long,
                  dimCols: Seq[String],
                  maxBucketsPerVersion: Long = 1000000L): DataFrame = {
    require(bucketSeconds > 0, "pointInTime: bucketSeconds must be > 0")
    require(maxBucketsPerVersion > 0,
      "pointInTime: maxBucketsPerVersion must be > 0")
    val b = "_graft_bucket"
    def bucketOf(c: Column) =
      floor(c.cast("long") / lit(bucketSeconds)).cast("long")
    val maxPt = facts.agg(max(col(ptCol)).as("_graft_max_pt"))
    // least() skips nulls: the open interval AND any far-future closed
    // valid_to both cap at max fact time + one bucket. The half-open
    // post-filter may use the capped bound because every fact ts <= max_pt
    // < cap, so `ts < capped_to` and `ts < valid_to` agree on facts.
    val iv = dim.crossJoin(broadcast(maxPt))
      .withColumn("_graft_to", least(col("valid_to"),
        col("_graft_max_pt") + expr(s"INTERVAL $bucketSeconds SECONDS")))
      // a version starting after every fact can cover nothing; dropping it
      // also keeps the bucket sequence non-descending
      .filter(col("valid_from") <= col("_graft_max_pt"))
      .withColumn("_graft_nb",
        bucketOf(col("_graft_to")) - bucketOf(col("valid_from")) + 1)
      .withColumn(b, explode(
        when(col("_graft_nb") <= maxBucketsPerVersion,
          sequence(bucketOf(col("valid_from")), bucketOf(col("_graft_to"))))
          .otherwise(raise_error(concat(
            lit("pointInTime: a dimension version spans "), col("_graft_nb"),
            lit(s" buckets of $bucketSeconds s (cap $maxBucketsPerVersion)" +
              " — raise bucketSeconds or maxBucketsPerVersion"))))))
      .select((keyCols ++ dimCols).map(col) ++
        Seq(col("valid_from"), col("_graft_to"), col("version"), col(b)): _*)
    facts.withColumn(b, bucketOf(col(ptCol)))
      .join(iv, keyCols :+ b)
      .filter(col(ptCol) >= col("valid_from") && col(ptCol) < col("_graft_to"))
      .drop(b, "_graft_to", "valid_from")
  }

  /** History RETENTION (the vacuum/GDPR story): keep every open
    * interval and every closed interval still live at `cutoff`; older
    * versions drop. The invariant (gated by q176, pinned by Scd2Spec):
    * [[pointInTime]] against the retained dimension answers any
    * `ptCol >= cutoff` lookup identically to the full history — only
    * as-was queries BEFORE the horizon lose resolution. Version
    * numbers are preserved (provenance), never renumbered. A pure
    * partition-local filter: no shuffle, and under a `valid_to`-
    * partitioned layout the drop prunes whole directories. */
  def retain(dim: DataFrame, cutoff: Column): DataFrame =
    dim.where(col("valid_to").isNull || col("valid_to") >= cutoff)
}
