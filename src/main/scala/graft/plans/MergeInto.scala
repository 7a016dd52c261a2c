package graft.plans

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand

import graft.operators.Upsert

/** `MERGE INTO` SQL surface (SURVEY.md §7.3) — the reference's generated
  * stored-proc MERGE (`utilities/helpers/table_generator.py:39-58`) as a
  * first-class SQL statement instead of an operator call.
  *
  * Spark's parser already produces a [[MergeIntoTable]] logical plan; for
  * plain parquet/temp-view relations the built-in analyzer has no row-level
  * execution path, so [[GraftMergeRule]] (registered through
  * `SparkSessionExtensions.injectResolutionRule`) rewrites the supported
  * shape —
  *
  * {{{
  *   MERGE INTO warehouse USING staging ON warehouse.k = staging.k
  *   WHEN MATCHED THEN UPDATE SET *
  *   WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * — into [[GraftMergeCommand]]. Three action shapes are executable:
  * upsert (`UPDATE SET *` + `INSERT *`), delete-matched (`WHEN MATCHED
  * THEN DELETE` alone), and insert-if-absent (`WHEN NOT MATCHED THEN
  * INSERT *` alone — pure append). Unsupported shapes (conditional
  * actions, per-column SET lists, NOT MATCHED BY SOURCE) fail analysis
  * loudly rather than silently changing semantics.
  */
object GraftMerge {

  /** Merge keys from the ON condition: a conjunction of same-name equality
    * predicates (`t.k = s.k [AND ...]`). */
  private[plans] def keysOf(cond: Expression): Seq[String] = cond match {
    case And(l, r) => keysOf(l) ++ keysOf(r)
    case EqualTo(a, b) =>
      (attrName(a), attrName(b)) match {
        case (Some(an), Some(bn)) if an.equalsIgnoreCase(bn) => Seq(an)
        case _ => throw notSupported(
          s"ON predicate must equate same-named key columns, got: ${cond.sql}")
      }
    case other => throw notSupported(
      s"ON condition must be a conjunction of key equalities, got: ${other.sql}")
  }

  private def attrName(e: Expression): Option[String] = e match {
    case u: UnresolvedAttribute => Some(u.nameParts.last)
    case a: Attribute => Some(a.name)
    case _ => None
  }

  private[plans] def tableName(p: LogicalPlan): String = p match {
    case u: UnresolvedRelation => u.multipartIdentifier.mkString(".")
    case SubqueryAlias(id, _) => (id.qualifier :+ id.name).mkString(".")
    case other => throw notSupported(
      s"MERGE target/source must be a named table or view, got: ${other.nodeName}")
  }

  /** True when the action list is the one supported "take source row"
    * shape: UPDATE SET * (possibly already star-expanded to same-name
    * assignments by the analyzer), unconditioned. */
  private[plans] def isUpdateAll(actions: Seq[MergeAction]): Boolean =
    actions match {
      case Seq(UpdateStarAction(None)) => true
      case Seq(UpdateAction(None, assigns, _)) => sameNameAssignments(assigns)
      case _ => false
    }

  private[plans] def isInsertAll(actions: Seq[MergeAction]): Boolean =
    actions match {
      case Seq(InsertStarAction(None)) => true
      case Seq(InsertAction(None, assigns)) => sameNameAssignments(assigns)
      case _ => false
    }

  private def sameNameAssignments(assigns: Seq[Assignment]): Boolean =
    assigns.forall { a =>
      (attrName(a.key), attrName(a.value)) match {
        case (Some(k), Some(v)) => k.equalsIgnoreCase(v)
        case _ => false
      }
    }

  private def notSupported(msg: String) =
    new UnsupportedOperationException(s"graft MERGE INTO: $msg")

  /** Supported MERGE shapes → execution mode:
    *
    *   - `UPDATE SET * / INSERT *`  → upsert (take the source row)
    *   - `WHEN MATCHED THEN DELETE` (alone) → delete matched target rows
    *   - `WHEN NOT MATCHED THEN INSERT *` (alone) → insert-if-absent
    *     (append-only — existing data is never rewritten)
    */
  private[plans] def modeOf(m: MergeIntoTable): String =
    (m.matchedActions, m.notMatchedActions) match {
      case (ma, na) if isUpdateAll(ma) && isInsertAll(na) => "upsert"
      case (Seq(DeleteAction(None)), Seq()) => "delete"
      case (Seq(), na) if isInsertAll(na) => "insert_only"
      case _ => throw notSupported(
        "supported shapes: UPDATE SET * + INSERT *; DELETE alone; INSERT * alone")
    }

  /** Rewrite a parsed MergeIntoTable into the runnable command (also usable
    * programmatically on sessions built without the extension). */
  def convert(m: MergeIntoTable): LogicalPlan = {
    val mode = modeOf(m)
    if (m.notMatchedBySourceActions.nonEmpty)
      throw notSupported("WHEN NOT MATCHED BY SOURCE is not supported")
    GraftMergeCommand(tableName(m.targetTable), tableName(m.sourceTable),
      keysOf(m.mergeCondition), mode)
  }
}

/** Analyzer rule: claim the supported MERGE shape before checkAnalysis can
  * reject it for non-row-level relations. */
class GraftMergeRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable => GraftMerge.convert(m)
    case _ => plan
  }
}

/** `spark.sql.extensions` entry point for the `MERGE INTO` rule. */
class GraftMergeExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    e.injectResolutionRule(new GraftMergeRule(_))
}

/** The executable merge.
  *
  * Two execution paths, chosen by the target's physical layout:
  *
  * '''Partitioned catalog table — partition-pruned rewrite.''' The scale
  * path (the reference's real workload: a small staging batch into a huge
  * warehouse table). Affected partitions are the ones source rows land in,
  * plus — when a partition column is not part of the merge key, so an
  * update can MOVE a row across partitions — the partitions currently
  * holding matched target rows (found with one broadcast-probe scan, no
  * shuffle of the target). Only those partitions are read
  * (partition-pruned scan), merged through [[Upsert.forLargeTarget]]
  * (broadcast anti-join + append — the target side is never shuffled), and
  * rewritten via dynamic partition overwrite. Untouched partitions'
  * files are never read or rewritten. A partition whose every row was
  * matched away (moved to another partition) is dropped explicitly, since
  * dynamic overwrite cannot rewrite a partition with zero output rows.
  *
  * '''Temp view / unpartitioned table — full rewrite.''' `localCheckpoint`
  * materializes the merged rows on the executors before the target is
  * replaced — it both breaks the self-read (overwriting a table the plan
  * reads from) and the self-reference a re-registered temp view would
  * otherwise carry. Right for views and small demo tables; a real
  * warehouse table should be partitioned, which selects the pruned path.
  *
  * Contract (standard SQL MERGE): merge keys unique per row on BOTH
  * sides. Under it every execution path returns the same rows. With
  * duplicate unmatched target keys the paths differ deliberately: the
  * partitioned kernels keep them (SQL semantics), the full-rewrite window
  * dedups them (the reference's stored-proc behavior).
  */
object GraftMergeCommand {
  /** Above this many affected partitions the pruned plan's literal filter
    * costs more than it saves — the command falls back to a full rewrite. */
  val MaxPrunedPartitions = 4096
}

case class GraftMergeCommand(targetTable: String, sourceTable: String,
                             keys: Seq[String], mode: String = "upsert")
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil

  override def run(spark: SparkSession): Seq[Row] = {
    val isTempView =
      spark.sessionState.catalog.getTempView(targetTable).isDefined
    if (mode == "insert_only") { runInsertOnly(spark, isTempView); return Nil }
    // opt-in wrong-key tripwire (upsert/delete only: those shapes EXPECT
    // matches; a zero-overlap insert_only is just a fresh batch). Runs
    // before any partition probe or rewrite — two column-pruned sketch
    // scans, no shuffle (see MergeGuard).
    if (spark.conf.getOption("spark.graft.merge.guard").exists(_.toBoolean))
      MergeGuard.check(spark.table(targetTable), spark.table(sourceTable),
        keys, targetTable, sourceTable)
    val partCols = if (isTempView) Nil else partitionColumns(spark)
    if (partCols.nonEmpty) runPartitionPruned(spark, partCols)
    else {
      val target = spark.table(targetTable)
      val source = spark.table(sourceTable)
      val merged = (mode match {
        case "delete" => Upsert.removeMatched(target, source, keys)
        case _ => Upsert(target, source, keys)
      }).localCheckpoint()
      if (isTempView) merged.createOrReplaceTempView(targetTable)
      else merged.write.mode(SaveMode.Overwrite).saveAsTable(targetTable)
    }
    Nil
  }

  /** Insert-if-absent is pure APPEND: one narrow key-scan of the target
    * builds the absence probe, fresh rows append, no partition is read or
    * rewritten — the cheapest merge shape at any scale. */
  private def runInsertOnly(spark: SparkSession, isTempView: Boolean): Unit = {
    import org.apache.spark.sql.functions.col
    val target = spark.table(targetTable)
    val fresh = Upsert.insertOnly(target, spark.table(sourceTable), keys)
      .select(target.columns.map(col).toIndexedSeq: _*)
    if (isTempView)
      target.unionByName(fresh).localCheckpoint()
        .createOrReplaceTempView(targetTable)
    else fresh.write.mode(SaveMode.Append).insertInto(targetTable)
  }

  /** Pin `spark.sql.sources.partitionOverwriteMode` around a write —
    * both merge write paths depend on a SPECIFIC mode regardless of what
    * the session happens to be configured with. */
  private def withOverwriteMode(spark: SparkSession, m: String)(f: => Unit): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, m)
    try f
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The analyzer may hand a 1-, 2- or 3-part target name. */
  private def targetIdent(spark: SparkSession)
      : org.apache.spark.sql.catalyst.TableIdentifier =
    spark.sessionState.sqlParser.parseMultipartIdentifier(targetTable) match {
      case Seq(t) => org.apache.spark.sql.catalyst.TableIdentifier(t)
      case Seq(db, t) =>
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
      case Seq(cat, db, t) =>
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db), Some(cat))
      case parts => throw new UnsupportedOperationException(
        s"graft MERGE INTO: unsupported table name $targetTable ($parts)")
    }

  private def partitionColumns(spark: SparkSession): Seq[String] =
    spark.sessionState.catalog.getTableMetadata(targetIdent(spark))
      .partitionColumnNames

  private def runPartitionPruned(spark: SparkSession,
                                 partCols: Seq[String]): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val target = spark.table(targetTable)
    val source = spark.table(sourceTable)
    // partitions source rows land in (inserts + updated rows' new homes);
    // a DELETE inserts nothing (and its source need not even CARRY the
    // partition columns), so this is only built for the upsert mode.
    // Cast through the TARGET's partition-column types: the emptied-
    // partition check compares these collected values against rows
    // collected from the target-typed merged frame by boxed equality, and
    // an INT staging column vs a BIGINT warehouse column would otherwise
    // classify every just-rewritten partition as emptied and drop it.
    val targetSchema = target.schema
    def newParts = source.select(partCols.map(c =>
      col(c).cast(targetSchema(targetSchema.fieldIndex(c)).dataType).as(c)): _*)
      .distinct()
    // old locations of matched rows, NULL-SAFELY: the execution kernels
    // match keys with <=>, so the probe must too — a null-key match would
    // otherwise sit in a partition the prune never rewrites
    def oldParts = {
      val marked = keys.map(k => s"_graft_pk_$k")
      val srcKeys = source.select(keys.map(col): _*).distinct().toDF(marked: _*)
      val cond = keys.zip(marked)
        .map { case (k, m) => target(k) <=> srcKeys(m) }.reduce(_ && _)
      target.join(broadcast(srcKeys), cond)
        .select(partCols.map(col): _*).distinct()
    }
    // when every partition column is part of the merge key, a matched row
    // cannot change partition — the source-side values already cover all
    // affected partitions and the old-location probe scan is skipped
    val partsInKey = partCols.forall(p => keys.exists(_.equalsIgnoreCase(p)))
    val affected: Array[Row] =
      if (mode == "delete") oldParts.collect()
      else if (partsInKey) newParts.collect()
      else newParts.unionByName(oldParts).distinct().collect()
    if (affected.isEmpty) return
    // the prune predicate is an OR-of-ANDs over collected partition values;
    // past a few thousand literals the predicate itself becomes the cost —
    // at that point the merge touches most of the table anyway, so fall
    // back to a full rewrite. insertInto(Overwrite) truncates and refills
    // the table IN PLACE, preserving its partition layout and metadata
    // (saveAsTable would silently recreate it unpartitioned).
    if (affected.length > GraftMergeCommand.MaxPrunedPartitions) {
      val merged = (mode match {
        case "delete" =>
          Upsert.removeMatched(spark.table(targetTable), source, keys)
        case _ => Upsert.forLargeTarget(spark.table(targetTable), source, keys)
      }).select(target.columns.map(col).toIndexedSeq: _*).localCheckpoint()
      // the full rewrite depends on STATIC overwrite (truncate everything,
      // refill): under a session-level dynamic mode a partition fully
      // drained by the merge would keep its stale rows
      withOverwriteMode(spark, "static") {
        merged.write.mode(SaveMode.Overwrite).insertInto(targetTable)
      }
      return
    }
    val pruneCond = affected.map { r =>
      partCols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(r.get(i)) }.reduce(_ && _)
    }.reduce(_ || _)
    val pruned = target.filter(pruneCond)
    val merged = (mode match {
      case "delete" => Upsert.removeMatched(pruned, source, keys)
      case _ => Upsert.forLargeTarget(pruned, source, keys)
    })
      // align to the table's column order (insertInto is positional) and
      // cut the plan's read of the partitions about to be overwritten
      .select(target.columns.map(col).toIndexedSeq: _*)
      .localCheckpoint()
    withOverwriteMode(spark, "dynamic") {
      merged.write.mode(SaveMode.Overwrite).insertInto(targetTable)
    }
    // written values go through the SAME target-typed cast as newParts: the
    // merged frame is unionByName-coerced, so a widened partition column
    // collects differently-typed boxes than the affected list. Scala's
    // cooperative equality happens to save Int-vs-Long, but not every
    // representation pair (java.math.BigDecimal vs Long compares false) —
    // normalize instead of relying on that
    dropEmptiedPartitions(spark, partCols, affected,
      merged.select(partCols.map(c =>
        col(c).cast(targetSchema(targetSchema.fieldIndex(c)).dataType).as(c)): _*)
        .distinct().collect())
  }

  /** Affected partitions that produced ZERO merged rows (every row moved
    * elsewhere) are invisible to dynamic overwrite — drop them so stale
    * rows don't survive. */
  private def dropEmptiedPartitions(spark: SparkSession, partCols: Seq[String],
                                    affected: Array[Row],
                                    written: Array[Row]): Unit = {
    val keep = written.map(_.toSeq).toSet
    val emptied = affected.filterNot(r => keep.contains(r.toSeq))
    if (emptied.isEmpty) return
    val ident = targetIdent(spark)
    val specs = emptied.map(r =>
      partCols.zipWithIndex.map { case (c, i) =>
        c -> Option(r.get(i)).map(_.toString)
          .getOrElse("__HIVE_DEFAULT_PARTITION__")
      }.toMap).toIndexedSeq
    spark.sessionState.catalog.dropPartitions(ident, specs,
      ignoreIfNotExists = true, purge = false, retainData = false)
  }
}
