package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded mergeable bottom-k by score: the k LOWEST-scored (id, score)
  * pairs, ordered by (score ASC, id ASC) — the nearest-neighbor result
  * order, deterministic under ties, restatable externally with
  * `row_number() OVER (ORDER BY score, id)`.
  *
  * Why this beats a per-group sort window at 100 TB: a batched ANN scan
  * produces (query, candidate, distance) rows whose per-query candidate
  * set is a corpus fraction — a `PARTITION BY query` window sorts ALL of
  * each query's candidates on one task (O(n log n) and a full shuffle of
  * the candidate rows), while this aggregate's partial state is ≤ k
  * entries per query per partition, map-side combined and merged
  * associatively (O(n log k), shuffling only k-entry buffers). The
  * [[TopKAgg]] / [[KmvSketchAgg]] bounded-state discipline applied to
  * nearest-neighbor results.
  *
  * Contract: one input row per candidate (a candidate scored twice with
  * distinct scores is retained twice — dedup upstream). Null ids or
  * scores are skipped. NaN scores are rejected loudly (a NaN distance
  * would silently poison the ordering).
  *
  * Buffer: a `java.util.TreeSet` ordered worst-first, so eviction on a
  * full buffer is `pollFirst()` and the steady-state update on a
  * saturated buffer is one comparison against the current worst. */
case class BottomKAgg(
    id: Expression,
    score: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[BottomKAgg.Entry]] {

  require(k >= 1, s"bottom_k_by_score: k must be >= 1, got $k")

  override def children: Seq[Expression] = Seq(id, score)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (id.dataType, score.dataType) match {
      case (LongType, DoubleType) => TypeCheckResult.TypeCheckSuccess
      case (i, s) => TypeCheckResult.TypeCheckFailure(
        s"bottom_k_by_score requires (bigint id, double score), got " +
          s"(${i.simpleString}, ${s.simpleString})")
    }

  override def createAggregationBuffer(): java.util.TreeSet[BottomKAgg.Entry] =
    new java.util.TreeSet[BottomKAgg.Entry]()

  override def update(buffer: java.util.TreeSet[BottomKAgg.Entry],
                      input: InternalRow)
      : java.util.TreeSet[BottomKAgg.Entry] = {
    val i = id.eval(input)
    val s = score.eval(input)
    if (i != null && s != null) {
      val d = s.asInstanceOf[Double]
      if (d.isNaN) throw new IllegalArgumentException(
        s"bottom_k_by_score: NaN score for id $i — NaN has no place in " +
          "a distance ordering; filter or repair upstream")
      BottomKAgg.insert(buffer,
        BottomKAgg.Entry(i.asInstanceOf[Long], d), k)
    }
    buffer
  }

  override def merge(buffer: java.util.TreeSet[BottomKAgg.Entry],
                     other: java.util.TreeSet[BottomKAgg.Entry])
      : java.util.TreeSet[BottomKAgg.Entry] = {
    // descending walk (best first): insert returns false only against a
    // FULL buffer, and then every later (worse) entry fails too — stop
    val it = other.descendingIterator()
    var live = true
    while (live && it.hasNext) {
      live = BottomKAgg.insert(buffer, it.next(), k)
    }
    buffer
  }

  override def eval(buffer: java.util.TreeSet[BottomKAgg.Entry]): Any = {
    val out = new Array[Any](buffer.size)
    val it = buffer.descendingIterator() // best → worst
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = new GenericInternalRow(Array[Any](e.id, e.score))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buffer: java.util.TreeSet[BottomKAgg.Entry])
      : Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 16 * buffer.size)
    bb.putInt(buffer.size)
    val it = buffer.iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.id)
      bb.putDouble(e.score)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte])
      : java.util.TreeSet[BottomKAgg.Entry] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val set = new java.util.TreeSet[BottomKAgg.Entry]()
    var i = 0
    while (i < n) {
      val id = bb.getLong
      val s = bb.getDouble
      set.add(BottomKAgg.Entry(id, s))
      i += 1
    }
    set
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BottomKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BottomKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BottomKAgg =
    copy(id = newChildren(0), score = newChildren(1))
  override def prettyName: String = "bottom_k_by_score"
}

object BottomKAgg {

  /** Buffer entry with the worst-first total order: HIGHER score sorts
    * first; on equal scores the larger id sorts first (it ranks worse
    * under the (score ASC, id ASC) output order). compareTo == 0 only
    * for identical (score, id) pairs. Doubles compare via
    * `java.lang.Double.compare` — total order, no NaN admitted. */
  final case class Entry(id: Long, score: Double)
      extends Comparable[Entry] {
    override def compareTo(o: Entry): Int = {
      val byS = java.lang.Double.compare(o.score, score)
      if (byS != 0) byS else java.lang.Long.compare(o.id, id)
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
