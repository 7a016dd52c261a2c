package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Sketches

/** Pre-merge key-overlap guard — the "wrong merge key" tripwire.
  *
  * The classic silent catastrophe in a staging→warehouse upsert is a key
  * column that doesn't actually line up (schema drift, a renamed id, a
  * stale config row): every source row is "not matched", the merge
  * appends the whole batch as duplicates, and nothing fails. The guard
  * estimates |distinct(source keys) ∩ distinct(target keys)| with the
  * q121 KMV machinery BEFORE the merge runs and refuses when the
  * estimate is zero while both sides carry keys.
  *
  * Scale shape: one column-pruned aggregate scan per side building a
  * k=256 bottom-k sketch (bounded partial state, map-side combinable) —
  * no join, no shuffle of either table. When both sides hold ≤ k
  * distinct keys the sketches are complete and a zero estimate is EXACT
  * disjointness; when saturated, a zero estimate means the overlap is
  * below the sketch's detection floor (≲ union/k of the key space) —
  * for a merge that expects to match a meaningful share of the batch,
  * either way is the wrong-key signal. Null keys drop out of the
  * sketch (a null key never equi-matches a target row it isn't already
  * failing on).
  */
object MergeGuard {

  /** One row: `(n_target_keys, n_source_keys, est_intersection)` —
    * sketch sizes (so callers can distinguish "no keys at all" from
    * "keys that never meet") and the KMV intersection estimate over
    * the composite merge key. */
  def overlapReport(target: DataFrame, source: DataFrame,
                    keys: Seq[String]): DataFrame = {
    val k = 256
    require(keys.nonEmpty, "merge guard needs at least one key column")
    def sketch(df: DataFrame, as: String) = {
      val h =
        if (keys.size == 1) Sketches.hash60(col(keys.head).cast("string"))
        else Sketches.hash60(concat_ws("\u0001",
          keys.map(c => col(c).cast("string")): _*))
      df.select(h.as("h")).agg(Sketches.kmvSketch(col("h"), k).as(as))
    }
    sketch(target, "skt").crossJoin(broadcast(sketch(source, "sks")))
      .select(
        size(col("skt")).cast("long").as("n_target_keys"),
        size(col("sks")).cast("long").as("n_source_keys"),
        Sketches.kmvOverlap(col("skt"), col("sks"), k)
          .getField("est_intersection").as("est_intersection"))
  }

  /** The refusal rule: both sides carry keys, yet the estimated
    * intersection is zero. */
  def wouldRefuse(report: org.apache.spark.sql.Row): Boolean =
    report.getLong(0) > 0 && report.getLong(1) > 0 &&
      report.getDouble(2) == 0.0

  /** Run the guard and throw on refusal. */
  def check(target: DataFrame, source: DataFrame, keys: Seq[String],
            targetName: String, sourceName: String): Unit = {
    val r = overlapReport(target, source, keys).collect()(0)
    if (wouldRefuse(r))
      throw new IllegalStateException(
        s"graft MERGE INTO guard: estimated key overlap between " +
          s"$targetName and $sourceName on (${keys.mkString(", ")}) is 0 " +
          s"(${r.getLong(0)} target / ${r.getLong(1)} source sketched keys) " +
          "— almost certainly a wrong merge key; disable " +
          "spark.graft.merge.guard to force the merge")
  }
}
