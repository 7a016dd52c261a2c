package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Cleanse, UnionBySchema, Validation}
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

  final case class IngestResult(
      registry: SchemaRegistry,
      silver: DataFrame,
      declared: Option[Long]) {

    /** Count reconciliation (A3) — executes a count job over the silver
      * frame, so it is opt-in rather than a hidden second execution paid by
      * every caller of `ingest`. */
    def reconcile(): Validation.CountCheck = {
      val actual = silver.count()
      Validation.reconcile(actual, declared.getOrElse(actual))
    }
  }

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
    * @param declared   source-declared record count for reconciliation
    *                   (reference `dl_instance_count` sums); None skips
    */
  def ingest(spark: SparkSession, raw: DataFrame, recordCol: String,
             registry: SchemaRegistry = SchemaRegistry.seed,
             declared: Option[Long] = None): IngestResult = {
    // 1. drift detection: distinct keysets → driver-minted version ids
    val updated = registry.observeSorted(
      SchemaRegistry.discoverKeysets(raw, recordCol))

    // 2+3 fused: ONE native Jackson pass per record yields the keyset (for
    //    the broadcast version lookup) AND every column of the
    //    union-of-schemas universe — the json_object_keys+sort+join stack
    //    and the separate json_tuple generator each cost a full parse;
    //    JsonKeysetTupleExpr replaces both (subexpression elimination keeps
    //    the struct evaluated once per row across the projected fields).
    val allCols = updated.withoutSeed.allColumns.toSeq.sorted
    val fused = raw.select(
      graft.expressions.JsonKeysetTupleExpr
        .jsonKeysetTuple(col(recordCol), allCols).as("_graft_rec"))
    // ordinal struct access + a keyset alias uniquified AGAINST THE DATA:
    // records may legitimately carry keys named "_keyset" or even
    // "_graft_keyset" — none of them can shadow the internal column.
    // ("schema_version" as a record key IS superseded by the version
    // column — the one reserved output name, as in the reference.)
    val ksAlias = Iterator.iterate("_graft_keyset")(_ + "_")
      .find(a => !allCols.contains(a)).get
    val parsed = SchemaRegistry.assignVersionsByKeyset(
        fused.select(
          graft.expressions.JsonKeysetTupleExpr.keysetField(col("_graft_rec"))
            .as(ksAlias) +:
          allCols.zipWithIndex.map { case (c, i) =>
            graft.expressions.JsonKeysetTupleExpr
              .valueField(col("_graft_rec"), i, c).as(c)
          }: _*),
        ksAlias, updated)
      .drop(ksAlias)
      // backtick-quote: raw lake columns may carry dots (`A.B` ERP names);
      // a record field named schema_version was superseded above — selecting
      // it again would duplicate the column
      .select(col("schema_version") +:
        allCols.filterNot(_ == "schema_version")
          .map(c => col(s"`$c`")): _*)

    // 4. cleanse: SQL-safe names, dupe resolution, sorted columns
    val cleansed = UnionBySchema.sortColumns(Cleanse.cleanNames(parsed))

    IngestResult(updated, cleansed, declared)
  }

  /** Nested-record variant of [[ingest]] (SURVEY.md §1.1): drift identity
    * is the set of dotted LEAF paths (the fused `JsonKeysetTupleExpr` nested kernel), the parse
    * is ONE `from_json` against the union-of-keysets nested all-string
    * schema, and silver carries the flattened `_`-joined leaf columns the
    * reference's sinks expect (`utilities/utilities.py:109-115`) — so a
    * truly-nested lake and the reference's pre-flattened dotted world land
    * in the same warehouse shape. */
  def ingestNested(spark: SparkSession, raw: DataFrame,
                   recordCol: String): IngestResult = {
    val updated = SchemaRegistry.seed.observeSorted(
      SchemaRegistry.discoverKeysetsNested(raw, recordCol))
    // same fused one-parse shape as the flat ingest: leaf keyset (version
    // lookup) + every leaf value from a single streaming pass
    val allPaths = updated.withoutSeed.allColumns.toSeq.sorted
    val fused = raw.select(
      graft.expressions.JsonKeysetTupleExpr
        .jsonLeafKeysetTuple(col(recordCol), allPaths).as("_graft_rec"))
    val flatNames = allPaths.map(_.split('.').mkString("_"))
    val ksAlias = Iterator.iterate("_graft_keyset")(_ + "_")
      .find(a => !flatNames.contains(a)).get
    val flat = SchemaRegistry.assignVersionsByKeyset(
        fused.select(
          graft.expressions.JsonKeysetTupleExpr.keysetField(col("_graft_rec"))
            .as(ksAlias) +:
          allPaths.zipWithIndex.map { case (p, i) =>
            graft.expressions.JsonKeysetTupleExpr
              .valueField(col("_graft_rec"), i, p)
              .as(p.split('.').mkString("_"))
          }: _*),
        ksAlias, updated)
      .drop(ksAlias)
    val cleansed = UnionBySchema.sortColumns(Cleanse.cleanNames(flat))
    IngestResult(updated, cleansed, None)
  }
}
