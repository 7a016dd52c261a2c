package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native MinHash signature over pre-hashed shingles (array<long>, values
  * in [0, P)): one pass over the shingles updating all `numHashes` minima
  * with primitive arithmetic — the built-in formulation (64 nested
  * higher-order `transform`s) pays a boxed lambda dispatch per (hash,
  * shingle) pair and dominated the near-dup bench.
  *
  * Seeds must match `graft.functions.Dedup.seeds` (fixed PRNG seed 42) so
  * both formulations produce identical signatures; the equivalence is
  * pinned by MinHashSigExprSpec.
  */
case class MinHashSigExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {

  // empty inputs yield a signature of nulls (see signatureOf), so elements
  // are nullable
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig requires array<long> of shingle hashes, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    MinHashSigExpr.signatureOf(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.expressions.MinHashSigExpr.signatureOf($arr, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object MinHashSigExpr {

  private val P = 2147483647L
  private val MaxHashes = 256

  /** (a, b) seed pairs, identical to `Dedup.seeds(MaxHashes)`. */
  private lazy val (as, bs): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(42L)
    val a = new Array[Long](MaxHashes)
    val b = new Array[Long](MaxHashes)
    var i = 0
    while (i < MaxHashes) {
      a(i) = 1L + rnd.nextLong(P - 1)
      b(i) = rnd.nextLong(P)
      i += 1
    }
    (a, b)
  }

  /** One-pass signature kernel (shared by interpreted eval and codegen).
    *
    * An input with no non-null hashes yields a signature of `numHashes`
    * nulls — the same value the HOF formulation produces (`array_min` of an
    * empty array is null), pinned by MinHashSigExprSpec. `hashedShingles`
    * always emits ≥1 element, so the near-dup pipeline never takes this
    * path; the contract matters for direct callers. */
  def signatureOf(hashed: ArrayData, numHashes: Int): GenericArrayData = {
    require(numHashes <= MaxHashes, s"numHashes > $MaxHashes")
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = hashed.numElements()
    var any = false
    var i = 0
    while (i < n) {
      if (!hashed.isNullAt(i)) {
        any = true
        val x = hashed.getLong(i)
        var k = 0
        while (k < numHashes) {
          val h = (as(k) * x + bs(k)) % P
          if (h < mins(k)) mins(k) = h
          k += 1
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(new Array[Any](numHashes))
    else new GenericArrayData(mins)
  }

  /** Column-level entry point. */
  def minhashSig(hashedShingles: Column, numHashes: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      MinHashSigExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(hashedShingles),
        numHashes))
}
