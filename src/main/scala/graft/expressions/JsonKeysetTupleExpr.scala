package graft.expressions

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** FUSED drift-ingest record parse: ONE Jackson pass per record producing
  * both the canonical keyset (sorted comma-joined top-level keys — the
  * schema-version identity) and every requested column's text value.
  *
  * The composed-built-ins formulation pays three parses per record across
  * the ingest: `json_object_keys` + `array_sort`/`array_join` for the
  * keyset, `json_tuple` for the values, and the discovery job's own keyset
  * pass. This expression halves the per-record JSON work in the main pass
  * (the q36/q44 ingest plan), and its keyset kernel alone replaces the
  * generic-array sort/join stack in discovery.
  *
  * Value semantics mirror `json_tuple` (LAST duplicate key wins):
  * strings yield their text, `null` yields SQL null, numbers/booleans
  * yield their literal rendering, and objects/arrays yield compact JSON
  * (generator structure copy — byte-identical to `json_tuple`'s output,
  * pinned by JsonKeysetTupleExprSpec). Malformed / non-object records
  * yield a row of nulls (keyset null → version null), matching the
  * built-in pipeline's behavior.
  */
case class JsonKeysetTupleExpr(child: Expression, fields: Seq[String],
                               nested: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = StructType(
    StructField("_keyset", StringType) +:
      fields.map(f => StructField(f, StringType)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"json_keyset_tuple requires string, got ${other.simpleString}")
    }

  @transient private lazy val kernel = new JsonKeysetTuple(fields.toArray, nested)

  override def nullSafeEval(input: Any): Any =
    kernel.evalRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("jsonKeysetKernel", kernel,
      classOf[JsonKeysetTuple].getName)
    nullSafeCodeGen(ctx, ev, json => s"${ev.value} = $k.evalRow($json);")
  }

  override protected def withNewChildInternal(newChild: Expression): JsonKeysetTupleExpr =
    copy(child = newChild)

  override def prettyName: String = "json_keyset_tuple"
}

/** Serializable single-pass kernel (shared by eval and codegen).
  *
  * `nested = false`: keys/fields are TOP-LEVEL names (json_tuple world —
  * the reference's pre-flattened records). `nested = true`: keys/fields
  * are dotted LEAF paths (JsonLeafKeysExpr world — objects recurse;
  * scalars, arrays, nulls and empty objects are leaves), so the nested
  * drift ingest also pays exactly one parse per record. */
class JsonKeysetTuple(fields: Array[String], nested: Boolean = false)
    extends Serializable {

  @transient private lazy val factory = new JsonFactory()
  @transient private lazy val index: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i < fields.length) { m.put(fields(i), i); i += 1 }
    m
  }

  private def nullRow: InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      new Array[Any](fields.length + 1))

  def evalRow(json: UTF8String): InternalRow = {
    try {
      val parser = factory.createParser(json.toString)
      try {
        if (parser.nextToken() != JsonToken.START_OBJECT) return nullRow
        val values = new Array[Any](fields.length + 1)
        val keys = scala.collection.mutable.ArrayBuffer.empty[String]

        def capture(path: String, tok: JsonToken): Unit = {
          keys += path
          val idx = index.get(path)
          if (idx != null) {
            values(idx + 1) = tok match {
              case JsonToken.VALUE_NULL => null
              case JsonToken.VALUE_STRING =>
                UTF8String.fromString(parser.getText)
              case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
                val w = new java.io.StringWriter()
                val gen = factory.createGenerator(w)
                gen.copyCurrentStructure(parser)
                gen.close()
                UTF8String.fromString(w.toString)
              case _ => UTF8String.fromString(parser.getText)
            }
          } else if (tok == JsonToken.START_OBJECT || tok == JsonToken.START_ARRAY) {
            parser.skipChildren()
          }
        }

        // walks an object body whose first post-'{' token is `firstTok`
        def walk(prefix: String, firstTok: JsonToken): Unit = {
          var tok = firstTok
          while (tok == JsonToken.FIELD_NAME) {
            val name = parser.currentName()
            val path = if (prefix.isEmpty) name else s"$prefix.$name"
            val vtok = parser.nextToken()
            if (nested && vtok == JsonToken.START_OBJECT) {
              val inner = parser.nextToken()
              if (inner == JsonToken.END_OBJECT) {
                keys += path // empty object = leaf, rendered as "{}"
                val idx = index.get(path)
                if (idx != null) values(idx + 1) = UTF8String.fromString("{}")
              } else walk(path, inner)
            } else capture(path, vtok)
            tok = parser.nextToken()
          }
        }

        walk("", parser.nextToken())
        // sorted DISTINCT keys: the registry stores keysets as sets, and
        // the readTree-based JsonLeafKeysExpr collapses duplicate keys —
        // a record like {"a":1,"a":2} must canonicalize to "a" through
        // every kernel or its version lookup silently resolves to null
        values(0) = UTF8String.fromString(keys.distinct.sorted.mkString(","))
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
      } finally parser.close()
    } catch {
      case _: Exception => nullRow
    }
  }
}

object JsonKeysetTupleExpr {

  /** ORDINAL struct access for the fused row: a record may legitimately
    * carry a top-level key literally named "_keyset", which would make the
    * output struct hold duplicate field names and by-name access
    * ambiguous. The keyset is always ordinal 0, values follow in `fields`
    * order. */
  def keysetField(fused: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.GetStructField(
        org.apache.spark.sql.graft.ColumnBridge.expression(fused), 0,
        Some("_keyset")))

  /** Value of `fields(i)` by ordinal (see [[keysetField]]). */
  def valueField(fused: Column, i: Int, name: String): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.GetStructField(
        org.apache.spark.sql.graft.ColumnBridge.expression(fused), i + 1,
        Some(name)))

  /** Column-level entry point (flat top-level keys). */
  def jsonKeysetTuple(json: Column, fields: Seq[String]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      JsonKeysetTupleExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(json), fields))

  /** Nested variant: keyset and fields are dotted LEAF paths. */
  def jsonLeafKeysetTuple(json: Column, fields: Seq[String]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      JsonKeysetTupleExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(json), fields,
        nested = true))
}
