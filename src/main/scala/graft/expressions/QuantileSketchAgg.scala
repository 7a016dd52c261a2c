package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded mergeable quantile sketch: the distinct-value histogram
  * restricted to the `capacity` distinct values with the SMALLEST portable
  * hash (Gibbons' "distinct sampling" applied to quantiles). The buffer
  * holds ≤ capacity (hash, value, exact-count) entries; entries merge by
  * summing counts on hash and trimming back to the bottom-capacity hashes.
  *
  * Why this shape instead of GK/KLL: those sketches are ORDER-DEPENDENT
  * (the summary depends on arrival and merge order), so two runs over
  * different partitionings give different summaries — poison for the
  * reproducible-build discipline every operator here follows, and
  * impossible to oracle-check. Bottom-K-by-hash over DISTINCT values is a
  * pure set function of the input: deterministic under any partitioning,
  * associative/commutative in merge, and an external engine restates the
  * exact sketch with `row_number() ≤ capacity` over hash-ordered distinct
  * values.
  *
  * Accuracy: when the group has ≤ capacity distinct values the sketch IS
  * the full histogram — quantiles are EXACT (the common case for the
  * length/score/count columns curation actually filters on). Past
  * capacity it is a uniform hash-sample of the distinct values carrying
  * exact per-value counts; the quantile estimate converges at
  * O(1/√capacity) in sampled mass and stays deterministic.
  *
  * Invariant (holds through any update/merge interleaving): a buffer is
  * exactly {bottom-capacity distinct values by hash over everything it has
  * seen, each with its exact total weight}. Eviction is monotone — once a
  * value leaves the bottom-K it can never re-enter (hash ranks only move
  * down as new distinct values arrive), so dropped weight always belongs
  * to a value outside the final sketch.
  *
  * Inputs: (hash, value, weight). The hash child must be the portable
  * [[graft.functions.Sketches.hash60]] of the value's STRING rendering so
  * the oracle's `md5(CAST(v AS VARCHAR))` reproduces it; weight is the
  * row's occurrence count (1 for raw rows, the count for pre-aggregated
  * input). Null value/weight rows are skipped; weight < 1 fails fast.
  */
case class QuantileSketchAgg(
    hash: Expression,
    value: Expression,
    weight: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeMap[java.lang.Long, Array[Long]]] {

  require(capacity >= 1, s"quantile_sketch: capacity must be >= 1, got $capacity")

  override def children: Seq[Expression] = Seq(hash, value, weight)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("value", LongType, nullable = false),
      StructField("count", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (hash.dataType, value.dataType, weight.dataType) match {
      case (LongType, LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (h, v, w) => TypeCheckResult.TypeCheckFailure(
        s"quantile_sketch requires (bigint hash, bigint value, bigint " +
          s"weight), got (${h.simpleString}, ${v.simpleString}, " +
          s"${w.simpleString})")
    }

  override def createAggregationBuffer(): java.util.TreeMap[java.lang.Long, Array[Long]] =
    new java.util.TreeMap[java.lang.Long, Array[Long]]()

  override def update(buffer: java.util.TreeMap[java.lang.Long, Array[Long]],
                      input: InternalRow): java.util.TreeMap[java.lang.Long, Array[Long]] = {
    val h = hash.eval(input)
    val v = value.eval(input)
    val w = weight.eval(input)
    if (v != null && w != null && h != null) {
      val wl = w.asInstanceOf[Long]
      if (wl < 1L) throw new IllegalArgumentException(
        s"quantile_sketch: weight must be >= 1, got $wl")
      QuantileSketchAgg.add(buffer, h.asInstanceOf[Long],
        v.asInstanceOf[Long], wl, capacity)
    }
    buffer
  }

  override def merge(buffer: java.util.TreeMap[java.lang.Long, Array[Long]],
                     other: java.util.TreeMap[java.lang.Long, Array[Long]])
      : java.util.TreeMap[java.lang.Long, Array[Long]] = {
    val it = other.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      QuantileSketchAgg.add(buffer, e.getKey, e.getValue()(0),
        e.getValue()(1), capacity)
    }
    buffer
  }

  override def eval(buffer: java.util.TreeMap[java.lang.Long, Array[Long]]): Any = {
    // emit sorted by VALUE (the order every consumer wants); the buffer
    // is hash-ordered, so copy out and sort the ≤ capacity entries
    val n = buffer.size
    val vals = new Array[Array[Long]](n)
    val it = buffer.values().iterator()
    var i = 0
    while (it.hasNext) { vals(i) = it.next(); i += 1 }
    java.util.Arrays.sort(vals,
      (a: Array[Long], b: Array[Long]) => java.lang.Long.compare(a(0), b(0)))
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = new GenericInternalRow(Array[Any](vals(i)(0), vals(i)(1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: java.util.TreeMap[java.lang.Long, Array[Long]]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * 24)
    bb.putInt(buffer.size)
    val it = buffer.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey)
      bb.putLong(e.getValue()(0))
      bb.putLong(e.getValue()(1))
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeMap[java.lang.Long, Array[Long]] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = new java.util.TreeMap[java.lang.Long, Array[Long]]()
    var i = 0
    while (i < n) {
      val h = bb.getLong
      m.put(h, Array(bb.getLong, bb.getLong))
      i += 1
    }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QuantileSketchAgg =
    copy(hash = newChildren(0), value = newChildren(1),
      weight = newChildren(2))
  override def prettyName: String = "quantile_sketch"
}

object QuantileSketchAgg {

  /** Bounded weighted insert keyed by hash (see class invariant). */
  private def add(buf: java.util.TreeMap[java.lang.Long, Array[Long]],
                  h: Long, v: Long, w: Long, capacity: Int): Unit = {
    val existing = buf.get(h)
    if (existing != null) {
      existing(1) += w
    } else if (buf.size < capacity) {
      buf.put(h, Array(v, w))
    } else if (h < buf.lastKey()) {
      buf.put(h, Array(v, w))
      buf.pollLastEntry()
    } // else: h ranks past the bottom-capacity — the value is (and will
      // stay) outside the sketch, so its weight is never needed
  }
}
