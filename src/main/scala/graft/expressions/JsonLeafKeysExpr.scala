package graft.expressions

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Canonical NESTED keyset of a raw JSON record: the sorted, comma-joined
  * dotted paths of every leaf value — `{"a": {"b": 1, "c": 2}, "d": 3}` →
  * `"a.b,a.c,d"`.
  *
  * The flat pipeline canonicalizes a record's keyset with
  * `array_join(array_sort(json_object_keys(x)), ",")` — built-ins that only
  * see TOP-LEVEL keys, which is exactly the reference's world (ERP records
  * arrive pre-flattened with dotted names, `fsmwrapper.py:164`). True
  * nested records (SURVEY.md §1.1's StructType promise) need drift identity
  * over leaf PATHS; no built-in composition walks arbitrary JSON, so this
  * is preference-order case (b): one native expression, one Jackson parse
  * per record.
  *
  * Objects recurse; scalars, arrays, nulls and empty objects are leaves
  * (the reference has no array-valued fields). Malformed JSON → null, same
  * contract as `json_object_keys`.
  */
case class JsonLeafKeysExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"json_leaf_keys requires string, got ${other.simpleString}")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    JsonLeafKeysExpr.leafKeys(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val resultCode = nullSafeCodeGen(ctx, ev, json =>
      s"""${ev.value} = graft.expressions.JsonLeafKeysExpr.leafKeys($json);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
    resultCode
  }

  override protected def withNewChildInternal(newChild: Expression): JsonLeafKeysExpr =
    copy(child = newChild)

  override def prettyName: String = "json_leaf_keys"
}

object JsonLeafKeysExpr {

  private val mapper = new ObjectMapper()

  /** Kernel shared by interpreted eval and codegen. Returns null for
    * malformed or non-object JSON. */
  def leafKeys(json: UTF8String): UTF8String = {
    val root =
      try mapper.readTree(json.toString)
      catch { case _: Exception => null }
    if (root == null || !root.isObject) return null
    val paths = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(node: com.fasterxml.jackson.databind.JsonNode, prefix: String): Unit = {
      val it = node.properties().iterator()
      while (it.hasNext) {
        val e = it.next()
        val path = if (prefix.isEmpty) e.getKey else s"$prefix.${e.getKey}"
        if (e.getValue.isObject && e.getValue.size() > 0) walk(e.getValue, path)
        else paths += path
      }
    }
    walk(root, "")
    UTF8String.fromString(paths.sorted.mkString(","))
  }

  /** Column-level entry point (classic-API Column↔Expression bridge). */
  def jsonLeafKeys(json: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      JsonLeafKeysExpr(org.apache.spark.sql.graft.ColumnBridge.expression(json)))
}
