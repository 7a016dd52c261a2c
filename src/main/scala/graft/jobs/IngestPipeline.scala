package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.JsonKeysetTupleExpr
import graft.operators.{Cleanse, UnionBySchema}
import graft.schema.SchemaRegistry

/** The reference's full pipeline (SURVEY.md §3.1) as one driver program:
  *
  *   extract (NDJSON) → schema-version tagging → bronze (partitioned by
  *   version) → union-by-schema + cleanse → silver → warehouse upsert
  *
  * What the reference does across PowerShell↔Python↔HTTP↔S3↔ODBC process
  * boundaries (`workflow.ps1:469-509` driving `datalakewrapper`,
  * `compile_data`, `push_data`, `lambda_function`, `run_stored_proc`)
  * collapses into one lazy DataFrame chain; the only process boundaries left
  * are driver↔executors at the shuffle points (version groupBy, upsert key
  * shuffle) and driver↔storage at source/sink.
  */
object IngestPipeline {

  final case class IngestResult(registry: SchemaRegistry, silver: DataFrame)

  /** Parse an NDJSON record column with DEAD-LETTER routing: every input
    * row survives — well-formed records carry their typed fields with a
    * null `_corrupt`, malformed records carry the RAW record text in
    * `_corrupt` (Spark's PERMISSIVE corrupt-record channel) with their
    * typed fields to be treated as absent. The reference pipeline's
    * parse step drops or aborts on bad records; at crawl scale a parse
    * failure must be a ROUTED row (auditable, replayable, counted), not
    * silence — callers split on `_corrupt IS NULL` into the main sink and
    * the DLQ sink and reconcile counts against the landing total.
    *
    * NOTE PERMISSIVE may still fill a parsed PREFIX of fields on a
    * malformed record; a DLQ consumer must treat every typed field of a
    * corrupt row as garbage (q160 nulls them on the way out). `schema`
    * must not already contain `_corrupt`.
    *
    * Every OTHER column of the input frame — ingest metadata a DLQ
    * consumer needs for replay (file path, landing timestamp, offsets) —
    * is carried through unchanged ahead of the parsed fields; their names
    * must not collide with the parsed schema's. */
  def parseWithDlq(raw: DataFrame, recordCol: String,
                   schema: org.apache.spark.sql.types.StructType)
      : DataFrame = {
    require(!schema.fieldNames.contains("_corrupt"),
      "parseWithDlq: schema already has a _corrupt column")
    val carried = raw.columns.toSeq.filterNot(_ == recordCol)
    // _corrupt/_graft_parsed are internal names this method mints: a
    // carried metadata column with either name would be duplicated or
    // silently clobbered
    val collisions = carried.toSet.intersect(
      schema.fieldNames.toSet ++ Set("_raw", "_corrupt", "_graft_parsed"))
    require(collisions.isEmpty,
      s"parseWithDlq: input metadata columns collide with parsed fields: " +
        collisions.mkString(", "))
    val full = schema.add("_corrupt",
      org.apache.spark.sql.types.StringType)
    raw.withColumn("_graft_parsed",
        from_json(col(recordCol), full, Map(
          "mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt")))
      .select((col(recordCol).as("_raw") +:
        carried.map(c => col(s"`$c`"))) ++
        (schema.fieldNames.toSeq :+ "_corrupt")
          .map(f => col(s"_graft_parsed.$f").as(f)): _*)
  }

  /** Ingest one business class from a raw NDJSON record column.
    *
    * @param raw        one JSON record per row (column `recordCol`)
    * @param registry   prior schema registry (seed for a full load)
    */
  def ingest(spark: SparkSession, raw: DataFrame, recordCol: String,
             registry: SchemaRegistry = SchemaRegistry.seed): IngestResult =
    ingestWith(raw, recordCol, registry, JsonKeysetTupleExpr.jsonKeysetTuple)

  /** Nested-record variant of [[ingest]] (SURVEY.md §1.1): drift identity
    * is the set of dotted LEAF paths (the fused `JsonKeysetTupleExpr`
    * nested kernel), and silver carries the flattened `_`-joined leaf
    * columns the reference's sinks expect (`utilities/utilities.py:109-115`)
    * — so a truly-nested lake and the reference's pre-flattened dotted
    * world land in the same warehouse shape. */
  def ingestNested(spark: SparkSession, raw: DataFrame,
                   recordCol: String): IngestResult =
    ingestWith(raw, recordCol, SchemaRegistry.seed,
      JsonKeysetTupleExpr.jsonLeafKeysetTuple)

  /** The one ingest body; `kernel` is the fused keyset-and-values parse
    * (top-level keys, or dotted leaf paths). Values are selected under
    * their raw names, so a dotted leaf path and a dotted flat key (`A.B`
    * ERP names) both reach silver through `Cleanse.cleanNames`. */
  private def ingestWith(raw: DataFrame, recordCol: String,
                         registry: SchemaRegistry,
                         kernel: (Column, Seq[String]) => Column): IngestResult = {
    // 1. drift detection: distinct keysets → driver-minted version ids
    val updated = registry.observeSorted(
      SchemaRegistry.discoverKeysetsWith(raw, recordCol, kernel))

    // 2+3 fused: ONE native Jackson pass per record yields the keyset (for
    //    the broadcast version lookup) AND every column of the
    //    union-of-schemas universe — the json_object_keys+sort+join stack
    //    and the separate json_tuple generator each cost a full parse;
    //    JsonKeysetTupleExpr replaces both (subexpression elimination keeps
    //    the struct evaluated once per row across the projected fields).
    val allCols = updated.withoutSeed.allColumns.toSeq.sorted
    val fused = raw.select(kernel(col(recordCol), allCols).as("_graft_rec"))
    // ordinal struct access + a keyset alias uniquified AGAINST THE DATA:
    // records may legitimately carry keys named "_keyset" or even
    // "_graft_keyset" — none of them can shadow the internal column.
    // ("schema_version" as a record key IS superseded by the version
    // column — the one reserved output name, as in the reference.)
    val ksAlias = Iterator.iterate("_graft_keyset")(_ + "_")
      .find(a => !allCols.contains(a)).get
    val parsed = SchemaRegistry.assignVersionsByKeyset(
        fused.select(
          JsonKeysetTupleExpr.keysetField(col("_graft_rec")).as(ksAlias) +:
          allCols.zipWithIndex.map { case (c, i) =>
            JsonKeysetTupleExpr.valueField(col("_graft_rec"), i, c).as(c)
          }: _*),
        ksAlias, updated)
      .drop(ksAlias)
      // the version column first, so a field that formats to its name
      // (`schema.version`) becomes `schema_version_dupe`, not a clash;
      // backtick-quote: raw names may carry dots; a record field named
      // schema_version was superseded above — selecting it again would
      // duplicate the column
      .select(col("schema_version") +:
        allCols.filterNot(_ == "schema_version")
          .map(c => col(s"`$c`")): _*)

    // 4. cleanse: SQL-safe names, dupe resolution, sorted columns
    IngestResult(updated, UnionBySchema.sortColumns(Cleanse.cleanNames(parsed)))
  }
}
