package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** HyperLogLog register sketch over the portable 60-bit md5 hash — the
  * constant-size counterpart of [[KmvSketchAgg]]: `m = 2^p` one-byte
  * registers per group regardless of cardinality (KMV holds k longs and
  * its accuracy is k-bound; HLL's ~1.04/√m error costs 8× less state at
  * the same m vs k). Register j holds the maximum over the group's
  * hashes landing in bucket j (top p bits) of ρ = position of the first
  * 1-bit in the remaining `60−p` bits (1-based; an all-zero remainder
  * counts the full `60−p+1`).
  *
  * Unlike Spark's own `approx_count_distinct` (whose xxhash-based dense/
  * sparse HLL++ registers are implementation-defined), these registers
  * derive from the SAME deterministic md5 `hash60` the rest of the
  * sketch family uses — so an external engine restates every register
  * exactly (`bucket = h // 2^(60−p)`, `ρ = 60−p+1 − bitlength(h mod
  * 2^(60−p))`), and the q136 gate hash-compares the full register file.
  *
  * Mergeable: element-wise max is associative/commutative/idempotent —
  * per-shard register files union into corpus totals without rescanning
  * (the [[KmvMergeAgg]] property, at fixed size). Partial state is m
  * bytes, map-side combined.
  */
case class HllSketchAgg(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  require(p >= 2 && p <= 16, s"hll_sketch: p must be in [2, 16], got $p")

  private val m = 1 << p

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hll_sketch requires a bigint hash column, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      val rem = 60 - p
      val bucket = (h >>> rem).toInt & (m - 1)
      val tail = h & ((1L << rem) - 1)
      // bit length of tail = 64 − nlz(tail); all-zero tail scores rem+1
      val rho =
        if (tail == 0L) rem + 1
        else rem + 1 - (64 - java.lang.Long.numberOfLeadingZeros(tail))
      if (rho > buffer(bucket)) buffer(bucket) = rho.toByte
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (other(i) > buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Byte]): Any = {
    val out = new Array[Int](m)
    var i = 0
    while (i < m) { out(i) = buffer(i).toInt; i += 1 }
    new GenericArrayData(out)
  }

  // clone: the live buffer keeps mutating after a spill serializes it
  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer.clone()

  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllSketchAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "hll_sketch"
}

/** Union of HLL register files (array<int> columns produced by
  * [[HllSketchAgg]]): element-wise max — the register file a single pass
  * over the union of the underlying inputs would build. */
case class HllMergeAgg(
    child: Expression,
    p: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  require(p >= 2 && p <= 16, s"hll_merge: p must be in [2, 16], got $p")

  private val m = 1 << p

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hll_merge requires an array<int> register column, got " +
          other.simpleString)
    }

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  override def update(buffer: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      require(arr.numElements() == m,
        s"hll_merge: register file has ${arr.numElements()} entries, " +
        s"expected m = $m for p = $p")
      var i = 0
      while (i < m) {
        val r = arr.getInt(i)
        if (r > buffer(i)) buffer(i) = r.toByte
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) {
      if (other(i) > buffer(i)) buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[Byte]): Any = {
    val out = new Array[Int](m)
    var i = 0
    while (i < m) { out(i) = buffer(i).toInt; i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: Array[Byte]): Array[Byte] = buffer.clone()
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllMergeAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "hll_merge"
}
