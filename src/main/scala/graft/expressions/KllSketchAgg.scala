package graft.expressions

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** KLL-style mergeable quantile sketch with bounded RANK error — the
  * companion to [[QuantileSketchAgg]] for HIGH-CARDINALITY columns.
  *
  * The bottom-K-by-hash sketch is exact below capacity and deterministic
  * under any partitioning (which is why it stays the ORACLE path), but
  * past capacity it degrades into a uniform sample of the distinct
  * VALUES: on a column where every value is distinct (latencies in
  * micros, revenue cents at warehouse scale) its rank error grows with
  * the tail. This sketch bounds rank error regardless of cardinality:
  * `levels(i)` holds items with weight 2^i; a full level sorts and
  * promotes alternate items to level i+1 (weight doubles, count halves),
  * so the buffer is O(k · log(n/k)) longs and the rank estimate of any
  * value is off by at most the accumulated compaction error —
  * O(log²(n/k)/k) of n deterministically, far tighter in practice
  * because the ALTERNATING selection offset cancels successive
  * compaction biases (the classic MRL/KLL trick, here deterministic
  * instead of coin-flipped: no RNG seed to make merge trees
  * irreproducible).
  *
  * Unlike every other sketch in this library the summary DEPENDS on
  * arrival/merge order (inherent to compaction sketches — the reason
  * [[QuantileSketchAgg]] exists and keeps the oracle role), so gates
  * assert the rank-error BOUND against exact quantiles instead of
  * hash-matching the summary (q285), and specs drive adversarial
  * orderings. Two invariants hold through ANY interleaving and are
  * spec-pinned: total weight Σ 2^level exactly equals the number of
  * inserted values (compaction is weight-preserving: 2m items → m items
  * at double weight, an odd leftover stays), and every level holds
  * < 2·k items.
  *
  * Input: one bigint value child. Nulls are skipped. Output:
  * `array<struct<level:int, value:bigint>>` ordered (level, value) —
  * feed to [[graft.functions.Sketches.kllQuantile]] for estimates. */
case class KllSketchAgg(
    value: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllSketchAgg.State] {

  require(k >= 4 && k % 2 == 0, s"kll_sketch: k must be even and >= 4, got $k")

  override def children: Seq[Expression] = Seq(value)
  override def nullable: Boolean = false
  override def dataType: DataType = KllSketchAgg.outType

  override def checkInputDataTypes(): TypeCheckResult = value.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kll_sketch requires a bigint value, got ${other.simpleString}")
  }

  override def createAggregationBuffer(): KllSketchAgg.State =
    new KllSketchAgg.State()

  override def update(buffer: KllSketchAgg.State,
                      input: InternalRow): KllSketchAgg.State = {
    val v = value.eval(input)
    if (v != null) KllSketchAgg.add(buffer, v.asInstanceOf[Long], k)
    buffer
  }

  override def merge(buffer: KllSketchAgg.State,
                     other: KllSketchAgg.State): KllSketchAgg.State =
    KllSketchAgg.mergeInto(buffer, other, k)

  override def eval(buffer: KllSketchAgg.State): Any =
    KllSketchAgg.evalState(buffer)

  override def serialize(buffer: KllSketchAgg.State): Array[Byte] =
    KllSketchAgg.ser(buffer)
  override def deserialize(bytes: Array[Byte]): KllSketchAgg.State =
    KllSketchAgg.deser(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KllSketchAgg =
    copy(value = newChildren(0))
  override def prettyName: String = "kll_sketch"
}

object KllSketchAgg {

  val outType: DataType = ArrayType(
    StructType(Seq(
      StructField("level", IntegerType, nullable = false),
      StructField("value", LongType, nullable = false))),
    containsNull = false)

  /** Level buffers (weight 2^i) + per-level alternating selection
    * parity. Mutable, owned by one aggregation buffer. */
  final class State {
    val levels: ArrayBuffer[ArrayBuffer[Long]] =
      ArrayBuffer(ArrayBuffer.empty[Long])
    val parity: ArrayBuffer[Boolean] = ArrayBuffer(false)
  }

  private[graft] def addAtLevel(st: State, level: Int, v: Long): Unit = {
    while (st.levels.length <= level) {
      st.levels += ArrayBuffer.empty[Long]
      st.parity += false
    }
    st.levels(level) += v
  }

  private[graft] def add(st: State, v: Long, k: Int): Unit = {
    st.levels(0) += v
    if (st.levels(0).length >= k) cascade(st, k)
  }

  /** Restore the per-level capacity invariant bottom-up; compacting
    * level i feeds i+1, which the ascending sweep revisits. */
  private[graft] def cascade(st: State, k: Int): Unit = {
    var i = 0
    while (i < st.levels.length) {
      while (st.levels(i).length >= k) compact(st, i)
      i += 1
    }
  }

  /** Weight-preserving halving: sort the level, promote alternate items
    * of the even-length prefix to level i+1 (the selection offset flips
    * each compaction — successive biases cancel), keep the odd leftover
    * (the maximum) at level i. */
  private def compact(st: State, i: Int): Unit = {
    if (st.levels.length <= i + 1) {
      st.levels += ArrayBuffer.empty[Long]
      st.parity += false
    }
    val buf = st.levels(i).toArray
    java.util.Arrays.sort(buf)
    val m = buf.length / 2
    val off = if (st.parity(i)) 1 else 0
    val up = st.levels(i + 1)
    var j = 0
    while (j < m) { up += buf(2 * j + off); j += 1 }
    val keep = ArrayBuffer.empty[Long]
    if (buf.length % 2 == 1) keep += buf(buf.length - 1)
    st.levels(i) = keep
    st.parity(i) = !st.parity(i)
  }

  private[graft] def mergeInto(st: State, other: State, k: Int): State = {
    var i = 0
    while (i < other.levels.length) {
      val lv = other.levels(i)
      var j = 0
      while (j < lv.length) { addAtLevel(st, i, lv(j)); j += 1 }
      i += 1
    }
    cascade(st, k)
    st
  }

  private[graft] def evalState(st: State): GenericArrayData = {
    val out = ArrayBuffer.empty[Any]
    var i = 0
    while (i < st.levels.length) {
      val sorted = st.levels(i).toArray
      java.util.Arrays.sort(sorted)
      var j = 0
      while (j < sorted.length) {
        out += new GenericInternalRow(Array[Any](i, sorted(j)))
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private[graft] def ser(st: State): Array[Byte] = {
    val total = st.levels.map(_.length).sum
    val bb = ByteBuffer.allocate(4 + st.levels.length * 5 + total * 8)
    bb.putInt(st.levels.length)
    var i = 0
    while (i < st.levels.length) {
      bb.put(if (st.parity(i)) 1.toByte else 0.toByte)
      bb.putInt(st.levels(i).length)
      st.levels(i).foreach(bb.putLong)
      i += 1
    }
    bb.array()
  }

  private[graft] def deser(bytes: Array[Byte]): State = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val st = new State()
    var i = 0
    while (i < n) {
      if (st.levels.length <= i) { st.levels += ArrayBuffer.empty[Long]; st.parity += false }
      st.parity(i) = bb.get() == 1
      val sz = bb.getInt
      var j = 0
      while (j < sz) { st.levels(i) += bb.getLong; j += 1 }
      i += 1
    }
    st
  }
}
