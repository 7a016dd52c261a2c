package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated query: its `qNN_label` name, the function that builds its
  * Spark DataFrame from a table directory, and the DuckDB SQL that must
  * return the same rows under the same column names. Each query file
  * declares its gates once, in its `gates` list. */
final case class Gate(name: String,
                      build: (SparkSession, String) => DataFrame,
                      oracle: String)
