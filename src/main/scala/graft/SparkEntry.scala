package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{EtlOps, Gate, PipelineQueries, Relational, TrainingData}

/** The gate registry (SURVEY.md §7). Every gated query is one [[Gate]],
  * declared once in the `gates` list of its query file: one entry per
  * operator from SURVEY.md §2, plus the training-data extensions. Each
  * gate's oracle SQL returns IDENTICAL output column names and a total
  * ordering, so a hash compare of the two results is deterministic.
  * `queries` and `oracleSql` are name-keyed views of [[gates]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  /** All gates; a name declared twice fails here instead of one entry
    * silently replacing the other in the name-keyed views. */
  def gates: Seq[Gate] = {
    val all = Relational.gates ++ EtlOps.gates ++ TrainingData.gates ++
      PipelineQueries.gates
    val dup = all.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dup.isEmpty, s"gate names declared twice: ${dup.mkString(", ")}")
    all
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  def oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap
}
