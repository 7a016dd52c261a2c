package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused scalar form of the engine's PORTABLE 60-bit value hash — the top
  * 60 bits of md5, the seam every sketch (KMV, HLL, count-min) and every
  * dedup family states so a DuckDB oracle can replay the hash as
  * `('0x' || substring(md5(t), 1, 15))::BIGINT`.
  *
  * Bit-exact with the built-in chain
  * `conv(substring(md5(cast(t as binary)), 1, 15), 16, 10)` (pinned by
  * Hash60ExprSpec), but computed without the per-value hex-string
  * rendering and base-16 re-parse: one reused MessageDigest, and the
  * value read straight off the digest's first eight bytes
  * (first-64-bits >>> 4). The chain allocates a 32-char hex string and
  * parses 15 digits of it PER VALUE — measurable across a 100 TB scan's
  * per-column NDV hashing.
  *
  * Null input → null (matching md5's null propagation in the chain).
  */
case class Hash60Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType | BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hash60 requires string or binary, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input match {
      case s: UTF8String => s.getBytes
      case b: Array[Byte] => b
    }
    java.lang.Long.valueOf(Hash60Expr.hash60(bytes))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val toBytes = child.dataType match {
      case StringType => (v: String) => s"$v.getBytes()"
      case _ => (v: String) => v
    }
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.expressions.Hash60Expr.hash60(${toBytes(v)});")
  }

  override protected def withNewChildInternal(newChild: Expression): Hash60Expr =
    copy(child = newChild)

  override def prettyName: String = "hash60"
}

object Hash60Expr {

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** The calling thread's MD5, reset: a kernel that streams several
    * byte runs into one digest feeds them here and reads the result with
    * [[top60]]. */
  def md5(): MessageDigest = {
    val md = digests.get()
    md.reset()
    md
  }

  /** Top 60 bits of an md5 digest: the first 15 hex digits are the
    * digest's first 60 bits, so conv(..., 16, 10) ==
    * (first-8-bytes-big-endian >>> 4). */
  def top60(d: Array[Byte]): Long = {
    val top64 =
      ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
    top64 >>> 4
  }

  /** Top 60 bits of md5(`bytes`). */
  def hash60(bytes: Array[Byte]): Long = top60(md5().digest(bytes))

  /** Column entry point. */
  def hash60(value: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      Hash60Expr(org.apache.spark.sql.graft.ColumnBridge.expression(value)))
}
