package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The fused ingest parse must be BYTE-IDENTICAL to the built-in
  * formulation it replaces: keyset == array_join(array_sort(
  * json_object_keys(x)), ",") and values == json_tuple(x, fields...). */
class JsonKeysetTupleExprSpec extends SparkSpec {
  import spark.implicits._

  val records = Seq(
    """{"b": 1, "a": "x", "c": 2.5}""",
    """{"a": null, "b": true, "nested": {"k": [1, 2]}, "arr": ["a", "b"]}""",
    """{"única": "ünïcode", "num": 137795.62, "sci": 1.0E7}""",
    """{"dup": 1, "dup": 2}""",
    """{}""",
    """not json at all""",
    """[1, 2, 3]""")

  val fields = Seq("a", "b", "c", "num", "sci", "dup", "nested", "arr", "missing")

  /** The keyset the flat ingest discovers and tags with. */
  def native(rec: Column): Column =
    JsonKeysetTupleExpr.keysetField(JsonKeysetTupleExpr.jsonKeysetTuple(rec, Nil))

  test("keyset matches json_object_keys + sort + join exactly") {
    val df = records.toDF("rec").select(
      native($"rec").as("native"),
      graft.schema.SchemaRegistry.keysetExpr($"rec").as("builtin"))
    df.collect().foreach { r =>
      assert(Option(r.getString(0)) == Option(r.getString(1)),
        s"native=${r.getString(0)} builtin=${r.getString(1)}")
    }
  }

  test("duplicate keys canonicalize to their DISTINCT sorted keyset (flat + nested)") {
    import graft.schema.SchemaRegistry
    // registry storage is set-based: {"a":1,"a":2} must resolve to the
    // same version as {"a":1} through every kernel
    val flat = Seq("""{"a": 1, "a": 2}""").toDF("rec")
    assert(flat.select(native($"rec"))
      .head().getString(0) == "a")
    assert(flat.select(SchemaRegistry.keysetExpr($"rec"))
      .head().getString(0) == "a")
    // nested, with DIVERGENT duplicate objects: discovery and version
    // assignment must agree on one canonical form (the streaming kernel),
    // or the record's version silently resolves to null
    val nested = Seq("""{"a": {"x": 1}, "a": {"y": 2}}""",
      """{"a": {"x": 1}}""").toDF("rec")
    val reg = SchemaRegistry.seed.observeSorted(
      SchemaRegistry.discoverKeysetsWith(nested, "rec",
        JsonKeysetTupleExpr.jsonLeafKeysetTuple))
    // the tagging ingestNested runs: the same streaming kernel's keyset
    val versions = SchemaRegistry.assignVersionsByKeyset(
        nested.withColumn("ks", JsonKeysetTupleExpr.keysetField(
          JsonKeysetTupleExpr.jsonLeafKeysetTuple($"rec", Nil))), "ks", reg)
      .select("schema_version").collect().map(r => Option(r.get(0)))
    assert(versions.forall(_.isDefined), versions.toSeq.toString)
  }

  test("values match json_tuple byte-for-byte (numbers, nested, arrays, dups)") {
    val native = records.toDF("rec").select(
      JsonKeysetTupleExpr.jsonKeysetTuple($"rec", fields).as("r"))
      .select(fields.map(f => col("r").getField(f)): _*)
      .collect().map(_.toSeq)
    val builtin = records.toDF("rec")
      .select(json_tuple($"rec", fields: _*))
      .collect().map(_.toSeq)
    native.zip(builtin).zipWithIndex.foreach { case ((n, b), i) =>
      assert(n == b, s"record $i: native=$n builtin=$b")
    }
  }

  test("ingest through the fused parse equals the previous formulation") {
    // the q36-shaped pipeline: drifting keysets, numeric + string fields
    val raw = Seq(
      """{"k": 1, "amt": 10.5}""",
      """{"k": 2, "amt": 20.5, "st": "GJ"}""",
      """{"k": 3, "amt": 1.0E7}""").toDF("rec")
    val result = graft.jobs.IngestPipeline.ingest(spark, raw, "rec")
    val silver = result.silver.orderBy("k")
      .select($"k", $"amt", $"st", $"schema_version".cast("int"))
      .as[(String, String, Option[String], Int)].collect().toSeq
    // keyset "amt,k" sorts before "amt,k,st" → version 1 = the 2-key set
    assert(silver == Seq(
      ("1", "10.5", None, 1), ("2", "20.5", Some("GJ"), 2),
      ("3", "1.0E7", None, 1)))
  }

  test("nested mode: leaf keyset matches JsonLeafKeysExpr; values match paths") {
    val recs = Seq(
      """{"a": {"b": 1, "c": 2}, "d": 3}""",
      """{"d": 1, "a": {"c": 9, "b": 0}}""",
      """{"empty": {}, "arr": [1, 2], "nul": null}""",
      """{"deep": {"x": {"y": "v"}}}""",
      """not json""").toDF("rec")
    val out = recs.select(
      JsonKeysetTupleExpr.jsonLeafKeysetTuple($"rec", Nil)
        .getField("_keyset").as("native"),
      JsonLeafKeysExpr.jsonLeafKeys($"rec").as("tree"))
      .collect()
    out.foreach(r =>
      assert(Option(r.getString(0)) == Option(r.getString(1)),
        s"native=${r.getString(0)} tree=${r.getString(1)}"))
    val vals = recs.select(JsonKeysetTupleExpr.jsonLeafKeysetTuple($"rec",
        Seq("a.b", "deep.x.y", "empty", "nul", "arr")).as("r"))
      .select(col("r").getField("a.b"), col("r").getField("deep.x.y"),
        col("r").getField("empty"), col("r").getField("nul"),
        col("r").getField("arr"))
      .collect().map(_.toSeq)
    assert(vals(0) == Seq("1", null, null, null, null))
    assert(vals(3) == Seq(null, "v", null, null, null))
    assert(vals(2) == Seq(null, null, "{}", null, "[1,2]"))
  }

  test("a record key literally named _keyset cannot shadow the keyset") {
    // ordinal struct access keeps the pipeline alive when the data itself
    // carries a "_keyset" column (duplicate field names in the struct)
    val raw = Seq("""{"_keyset": 7, "k": 1}""", """{"k": 2}""").toDF("rec")
    val result = graft.jobs.IngestPipeline.ingest(spark, raw, "rec")
    val silver = result.silver.orderBy("k")
    assert(silver.columns.contains("_keyset"))
    val rows = silver.select($"k", $"_keyset")
      .as[(String, Option[String])].collect().toSeq
    assert(rows == Seq(("1", Some("7")), ("2", None)))
    assert(result.registry.withoutSeed.versions.values.toSet ==
      Set(Set("_keyset", "k"), Set("k")))
  }

  test("fused parse evaluates once per row (subexpression elimination)") {
    // a Range-backed frame so the projection survives into the physical
    // plan (a local relation constant-folds away entirely)
    val raw = spark.range(4).select(
      concat(lit("{\"k\": "), $"id", lit(", \"v\": 2}")).as("rec"))
    val plan = raw.select(
      JsonKeysetTupleExpr.jsonKeysetTuple($"rec", Seq("k", "v")).as("r"))
      .select(col("r._keyset"), col("r.k"), col("r.v"))
      .queryExecution.executedPlan.toString
    // CollapseProject refuses to duplicate the non-cheap parse into the
    // field extractions: the expression appears ONCE (one parse per row),
    // and both projections fuse into a single whole-stage-codegen stage
    assert(plan.linesIterator.count(_.contains("json_keyset_tuple")) == 1, plan)
    assert(plan.linesIterator.filter(_.contains("Project"))
      .forall(_.contains("*(1)")), plan)
    assert(plan.contains("Range"))
  }
}
