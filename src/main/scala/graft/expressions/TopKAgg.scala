package graft.expressions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded mergeable top-k: the k highest-weighted (item, weight) pairs,
  * ordered by (weight DESC, item ASC) — a deterministic total order, so
  * ties never make the result run-dependent and an external engine
  * restates it with `row_number() OVER (ORDER BY weight DESC, item)`.
  *
  * Why this beats `slice(array_sort(collect_list(...)), 1, k)` at 100 TB:
  * collect_list's partial state is EVERY row of the group — a per-source
  * vocabulary buffered in full on each map task and shipped whole through
  * the exchange — while this aggregate's partial state is ≤ k entries per
  * group per partition, map-side combined and merged associatively. Same
  * motivation as [[KmvSketchAgg]]: bounded, deterministic, composable.
  *
  * Contract: one input row per item (pre-aggregate weights first, e.g.
  * `groupBy(group, item).count`). If the contract is violated, duplicate
  * items with DISTINCT weights are retained as separate entries, while
  * identical (item, weight) pairs collapse to one (the buffer is a set)
  * — which a row_number restatement would NOT collapse, so window parity
  * holds only for pre-aggregated input. Null items or weights are
  * skipped.
  *
  * Buffer: a `java.util.TreeSet` ordered worst-first, so eviction on a
  * full buffer is `pollFirst()` and the steady-state update on a
  * saturated buffer is one comparison against the current worst.
  */
case class TopKAgg(
    item: Expression,
    weight: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[TopKAgg.Entry]] {

  require(k >= 1, s"top_k: k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(item, weight)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("weight", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (item.dataType, weight.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (i, w) => TypeCheckResult.TypeCheckFailure(
        s"top_k requires (string item, bigint weight), got " +
          s"(${i.simpleString}, ${w.simpleString})")
    }

  override def createAggregationBuffer(): java.util.TreeSet[TopKAgg.Entry] =
    new java.util.TreeSet[TopKAgg.Entry]()

  override def update(buffer: java.util.TreeSet[TopKAgg.Entry],
                      input: InternalRow): java.util.TreeSet[TopKAgg.Entry] = {
    val i = item.eval(input)
    val w = weight.eval(input)
    if (i != null && w != null)
      TopKAgg.insert(buffer,
        TopKAgg.Entry(i.asInstanceOf[UTF8String].toString,
          w.asInstanceOf[Long]), k)
    buffer
  }

  override def merge(buffer: java.util.TreeSet[TopKAgg.Entry],
                     other: java.util.TreeSet[TopKAgg.Entry])
      : java.util.TreeSet[TopKAgg.Entry] = {
    // descending walk (best first): insert returns false only against a
    // FULL buffer, and then every later (worse) entry fails too — stop
    val it = other.descendingIterator()
    var live = true
    while (live && it.hasNext) {
      live = TopKAgg.insert(buffer, it.next(), k)
    }
    buffer
  }

  override def eval(buffer: java.util.TreeSet[TopKAgg.Entry]): Any = {
    val out = new Array[Any](buffer.size)
    val it = buffer.descendingIterator() // best → worst
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = new GenericInternalRow(
        Array[Any](UTF8String.fromString(e.item), e.weight))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: java.util.TreeSet[TopKAgg.Entry]): Array[Byte] = {
    var bytes = 4
    val it0 = buffer.iterator()
    while (it0.hasNext) {
      bytes += 12 + it0.next().item.getBytes(StandardCharsets.UTF_8).length
    }
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(buffer.size)
    val it = buffer.iterator()
    while (it.hasNext) {
      val e = it.next()
      val ib = e.item.getBytes(StandardCharsets.UTF_8)
      bb.putLong(e.weight)
      bb.putInt(ib.length)
      bb.put(ib)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[TopKAgg.Entry] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val set = new java.util.TreeSet[TopKAgg.Entry]()
    var i = 0
    while (i < n) {
      val w = bb.getLong
      val len = bb.getInt
      val ib = new Array[Byte](len)
      bb.get(ib)
      set.add(TopKAgg.Entry(new String(ib, StandardCharsets.UTF_8), w))
      i += 1
    }
    set
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(item = newChildren(0), weight = newChildren(1))
  override def prettyName: String = "top_k"
}

object TopKAgg {

  /** Buffer entry with the worst-first total order: lower weight sorts
    * first; on equal weights the lexicographically LARGER item sorts
    * first (it ranks worse under the (weight DESC, item ASC) output
    * order). compareTo == 0 only for identical (weight, item) pairs, so
    * the TreeSet keeps duplicate items with distinct weights apart. */
  final case class Entry(item: String, weight: Long) extends Comparable[Entry] {
    override def compareTo(o: Entry): Int = {
      val byW = java.lang.Long.compare(weight, o.weight)
      if (byW != 0) byW else o.item.compareTo(item)
    }
  }

  /** Bounded insert; returns true iff the entry is retained. */
  private[expressions] def insert(buf: java.util.TreeSet[Entry],
                                  e: Entry, k: Int): Boolean = {
    if (buf.size < k) { buf.add(e); true }
    else if (e.compareTo(buf.first()) > 0) {
      if (buf.add(e)) buf.pollFirst()
      true
    } else buf.contains(e)
  }
}
