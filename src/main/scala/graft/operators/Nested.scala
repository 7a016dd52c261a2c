package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Nested-schema modelling (SURVEY.md §1.1): the reference receives ERP
  * fields pre-flattened to dotted names (`FinanceCodeBlock.AccountingUnit`,
  * `fsmwrapper.py:164`) and joins them with `_` for SQL sinks
  * (`utilities/utilities.py:109-115`, `db/sql.py:14`). This engine models
  * such records as TRUE `StructType` nesting, with a lossless
  * flatten/unflatten pair for JDBC-style sinks:
  *
  *   - [[flatten]] projects every leaf path to a top-level column named by
  *     `sep`-joining its segments — a pure projection, no shuffle;
  *   - [[unflatten]] rebuilds the struct tree from `sep`-split column
  *     names — `flatten` then `unflatten` round-trips a nested schema
  *     exactly (pinned by NestedSpec);
  *   - [[structFromPaths]] turns a registry keyset of dotted leaf paths
  *     into the nested all-string read schema the drift-ingest parse uses.
  *
  * Separator occurrences are treated as nesting boundaries: a LITERAL `_`
  * in a leaf name is indistinguishable from nesting after flattening with
  * `_` (the same lossiness the reference accepts, `db/sql.py:14`); pick a
  * separator that cannot appear in field names to round-trip losslessly.
  */
object Nested {

  /** Dotted paths of every leaf (non-struct) field, in schema order. */
  def leafPaths(schema: StructType, prefix: String = ""): Seq[String] =
    schema.fields.toSeq.flatMap { f =>
      f.dataType match {
        case st: StructType if st.fields.nonEmpty =>
          leafPaths(st, s"$prefix${f.name}.")
        case _ => Seq(s"$prefix${f.name}")
      }
    }

  private def pathCol(path: String): Column =
    path.split('.').toList match {
      case head :: rest => rest.foldLeft(col(s"`$head`"))(_.getField(_))
      case Nil => throw new IllegalArgumentException("empty path")
    }

  /** Flatten nested structs to top-level columns (`a.b.c` → `a_b_c`). */
  def flatten(df: DataFrame): DataFrame =
    df.select(leafPaths(df.schema).map(p =>
      pathCol(p).as(p.split('.').mkString("_"))): _*)

  /** Rebuild struct nesting from `sep`-joined column names; columns without
    * the separator pass through. Sibling order inside each struct is the
    * sorted segment order (deterministic, like the U3 column sort). */
  def unflatten(df: DataFrame, sep: String = "_"): DataFrame = {
    def build(entries: Seq[(List[String], Column)]): Seq[Column] =
      entries.groupBy(_._1.head).toSeq.sortBy(_._1).map {
        case (name, group) =>
          val (leaves, nested) = group.partition(_._1.lengthCompare(1) == 0)
          if (nested.isEmpty) leaves.head._2.as(name)
          else if (leaves.isEmpty)
            struct(build(nested.map { case (segs, c) => (segs.tail, c) }): _*)
              .as(name)
          else throw new IllegalArgumentException(
            s"unflatten: '$name' is both a leaf column and a struct prefix")
      }
    df.select(build(df.columns.toIndexedSeq.map(c =>
      (c.split(java.util.regex.Pattern.quote(sep)).toList, col(s"`$c`")))): _*)
  }

  /** Nested read schema from dotted leaf paths (all-string leaves — the
    * drift ingest keeps the reference's text-first parse semantics). */
  def structFromPaths(paths: Seq[String],
                      leaf: DataType = StringType): StructType = {
    def build(entries: Seq[List[String]]): StructType =
      StructType(entries.groupBy(_.head).toSeq.sortBy(_._1).map {
        case (name, group) =>
          val (leaves, nested) = group.partition(_.lengthCompare(1) == 0)
          if (nested.isEmpty) StructField(name, leaf)
          else if (leaves.isEmpty) StructField(name, build(nested.map(_.tail)))
          else throw new IllegalArgumentException(
            s"conflicting keyset: '$name' is both a leaf and an object")
      })
    build(paths.map(_.split('.').toList))
  }
}
