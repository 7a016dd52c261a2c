package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Staging→warehouse upsert — the reference's generated stored-proc MERGE
  * (`utilities/helpers/table_generator.py:39-58`, `db/columns/dbcolumngen.py:
  * 3-32`): update matched target rows from source, insert unmatched.
  *
  * Spark restatement: source-wins-by-key via union + window dedup. One
  * shuffle on the merge key; at 100 TB pre-bucketing target and source on
  * the key makes this shuffle-free, and AQE's skew-join splitting handles
  * hot keys. A full-outer-join + per-column coalesce variant is provided for
  * sinks that need per-column merge semantics.
  */
object Upsert {

  /** Source-priority upsert: for each key, the source row (if any) replaces
    * the target row; unmatched source rows are inserted; unmatched target
    * rows are kept. Requires identical schemas (use UnionBySchema first
    * when they drift). `tieBreak` orders within source/target duplicates. */
  def apply(target: DataFrame, source: DataFrame, keys: Seq[String],
            tieBreak: Seq[Column] = Nil): DataFrame = {
    val srcCol = "_graft_src_priority"
    val rnCol = "_graft_rn"
    val all = target.withColumn(srcCol, lit(0))
      .unionByName(source.withColumn(srcCol, lit(1)), allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(srcCol).desc +: tieBreak: _*)
    all.withColumn(rnCol, row_number().over(w))
      .filter(col(rnCol) === 1)
      .drop(srcCol, rnCol)
  }

  /** Large-target upsert: the target is never shuffled — matched target
    * rows are removed with a NULL-SAFE left-anti join against the (small)
    * source key set, which Catalyst executes as a broadcast when the source
    * fits, then the source rows are appended. The shape for the reference's
    * real workload: a daily staging batch (thousands of rows) merged into a
    * warehouse table (billions) — the window formulation would shuffle the
    * warehouse on the key; this streams it through a broadcast probe.
    *
    * Same result as [[apply]] when keys are unique per row on BOTH sides;
    * the null-key case matches [[apply]] too (the anti-join is `<=>`-based,
    * so a null-key source row replaces null-key target rows, exactly like
    * the window's null grouping). The one documented divergence: duplicate
    * UNMATCHED target keys are all kept here (SQL MERGE semantics), while
    * [[apply]]'s window dedups them to one row per key. Requires unique
    * keys per source row (pre-dedup drifts with `tieBreak` upstream). */
  def forLargeTarget(target: DataFrame, source: DataFrame,
                     keys: Seq[String]): DataFrame =
    removeMatched(target, source, keys)
      .unionByName(source, allowMissingColumns = true)

  /** Target rows whose key has NO match in the source (null-safe) — the
    * broadcast-probe kernel shared by [[forLargeTarget]] and the MERGE
    * DELETE execution. The target side streams; only the distinct source
    * keys move. */
  def removeMatched(target: DataFrame, source: DataFrame,
                    keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val marked = keys.map(k => s"_graft_sk_$k")
    val srcKeys = source.select(keys.map(col): _*).distinct().toDF(marked: _*)
    val cond = keys.zip(marked)
      .map { case (k, m) => target(k) <=> srcKeys(m) }.reduce(_ && _)
    target.join(broadcast(srcKeys), cond, "left_anti")
  }

  /** Source rows whose key is absent from the target (null-safe) — the
    * one insert-only diff: the MERGE insert-only execution, the
    * incremental subject-area load and the extract set-difference (I1,
    * the reference's `lake_ids − history`). The result APPENDS, nothing
    * rewrites. Only the target's key columns are read, so a columnar
    * target prunes its scan to them; no distinct over the target, since
    * a left-anti join's output does not depend on duplicates on its
    * build side. */
  def insertOnly(target: DataFrame, source: DataFrame,
                 keys: Seq[String]): DataFrame = {
    val marked = keys.map(k => s"_graft_tk_$k")
    val tgtKeys = target.select(keys.map(col): _*).toDF(marked: _*)
    val cond = keys.zip(marked)
      .map { case (k, m) => source(k) <=> tgtKeys(m) }.reduce(_ && _)
    source.join(tgtKeys, cond, "left_anti")
  }

  /** Per-column merge via full-outer join: matched rows take source values
    * column-wise (null source values fall back to target — the stored-proc
    * UPDATE-list semantics). */
  def mergeColumns(target: DataFrame, source: DataFrame,
                   keys: Seq[String]): DataFrame = {
    val t = target.alias("t")
    val s = source.alias("s")
    val joinCond = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val dataCols = target.columns.filterNot(keys.contains).toIndexedSeq
    val keyCols = keys.map(k => coalesce(col(s"s.$k"), col(s"t.$k")).as(k))
    val merged = dataCols.map(c => coalesce(col(s"s.$c"), col(s"t.$c")).as(c))
    t.join(s, joinCond, "full_outer").select(keyCols ++ merged: _*)
  }
}
