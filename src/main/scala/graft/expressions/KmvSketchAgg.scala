package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** KMV ("k minimum values") distinct-cardinality sketch: a mergeable
  * bottom-k aggregate over a 60-bit hash column. The sketch IS the sorted
  * array of the k smallest DISTINCT hash values seen; the estimator
  * `(k−1) / (h_k / 2^60)` (Bar-Yossef et al. 2002) reads the kth value as
  * a uniform [0,1) order statistic. With fewer than k distinct values the
  * sketch is exhaustive and the count is exact.
  *
  * Why this beats exact `count(distinct …)` at 100 TB: the exact form
  * shuffles every distinct value to its group; this aggregate's partial
  * state is ≤ k longs per group per partition — map-side combined, merged
  * associatively, and (unlike HyperLogLog) DETERMINISTIC given the hash,
  * so an external engine restates the identical sketch with a
  * `row_number() ≤ k` over distinct hashes. Spark's own
  * `approx_count_distinct` is cheaper per byte (dense HLL registers) but
  * its estimate is implementation-defined; this one is oracle-checkable
  * bit-for-bit, and the sketch array itself unions across corpus shards
  * via [[KmvMergeAgg]] without rescanning anything.
  *
  * Buffer: a bounded `java.util.TreeSet` (≤ k boxed longs). Inserts past
  * capacity only happen while the new value beats the current kth minimum,
  * so steady-state update cost on a saturated sketch is one comparison.
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k >= 2, s"kmv_sketch: k must be >= 2, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kmv_sketch requires a bigint hash column, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buffer: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) KmvSketchAgg.insert(buffer, v.asInstanceOf[Long], k)
    buffer
  }

  override def merge(buffer: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    // ascending walk: once a value fails the insert bound every later
    // value fails too, so stop at the first rejection on a full sketch
    var live = true
    while (live && it.hasNext) {
      val h = it.next().longValue()
      live = KmvSketchAgg.insert(buffer, h, k) || buffer.size < k
    }
    buffer
  }

  override def eval(buffer: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out) // TreeSet iterates ascending — sorted already
  }

  override def serialize(buffer: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.size)
    bb.putInt(buffer.size)
    val it = buffer.iterator()
    while (it.hasNext) bb.putLong(it.next().longValue())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(bb.getLong); i += 1 }
    set
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvSketchAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "kmv_sketch"
}

object KmvSketchAgg {
  /** Bounded distinct insert; returns true iff the value entered the
    * sketch (or was already present). */
  private[expressions] def insert(buf: java.util.TreeSet[java.lang.Long],
                                  h: Long, k: Int): Boolean = {
    if (buf.size < k) { buf.add(h); true } // added or already present
    else if (h < buf.last()) {
      if (buf.add(h)) buf.pollLast()
      true
    } else buf.contains(h)
  }
}

/** Union of KMV sketches (array<bigint> columns produced by
  * [[KmvSketchAgg]]): the bottom-k of the combined value sets — exactly
  * the sketch a single pass over the union of the underlying inputs would
  * build, which is what makes per-shard sketches composable into corpus
  * totals without touching the data again. */
case class KmvMergeAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  require(k >= 2, s"kmv_merge: k must be >= 2, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"kmv_merge requires array<bigint> sketches, got ${other.simpleString}")
    }

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buffer: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var i = 0
      val n = arr.numElements()
      // no early stop here: sketches produced by KmvSketchAgg arrive
      // ascending, but a SQL caller may pass any array<bigint> — an
      // ascending-order assumption would silently drop values
      while (i < n) {
        KmvSketchAgg.insert(buffer, arr.getLong(i), k)
        i += 1
      }
    }
    buffer
  }

  override def merge(buffer: java.util.TreeSet[java.lang.Long],
                     other: java.util.TreeSet[java.lang.Long])
      : java.util.TreeSet[java.lang.Long] = {
    val it = other.iterator()
    var live = true
    while (live && it.hasNext) {
      live = KmvSketchAgg.insert(buffer, it.next().longValue(), k) ||
        buffer.size < k
    }
    buffer
  }

  override def eval(buffer: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buffer.size)
    bb.putInt(buffer.size)
    val it = buffer.iterator()
    while (it.hasNext) bb.putLong(it.next().longValue())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val set = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { set.add(bb.getLong); i += 1 }
    set
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KmvMergeAgg =
    copy(child = newChildren.head)
  override def prettyName: String = "kmv_merge"
}
