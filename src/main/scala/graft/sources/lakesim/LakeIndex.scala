package graft.sources.lakesim

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.sources._

/** One data object in the simulated lake: its NDJSON file, declared record
  * count (the reference's `dl_instance_count`), per-field min/max value
  * ranges used for split pruning, and optional per-field bloom filters
  * ([[LakeBloom]]) for equality-predicate skipping. */
final case class ObjectEntry(file: String, count: Long,
                             ranges: Map[String, (Double, Double)],
                             blooms: Map[String, Array[Long]] = Map.empty)

/** Index + pruning logic for the lakesim source. Pure functions — unit
  * tested independently of the DSv2 machinery. */
object LakeIndex {

  private val mapper = new ObjectMapper()

  /** Load `index.json`:
    * `{"objects": [{"file": "...", "count": N,
    *    "ranges": {"field": [min, max], ...}}, ...]}` */
  def load(dir: String): Seq[ObjectEntry] = load(FileTransport(dir))

  /** Time-travel variant: a versioned lake keeps every commit's index
    * as `index_vN.json` alongside the `index.json` latest pointer —
    * loading version N reads the lake exactly as commit N left it
    * (objects are immutable). */
  def load(dir: String, versionAsOf: Int): Seq[ObjectEntry] =
    load(FileTransport(dir), indexFileFor(versionAsOf))

  def indexFileFor(versionAsOf: Int): String =
    if (versionAsOf <= 0) "index.json" else s"index_v$versionAsOf.json"

  /** Transport-bound variant — the same data-object-properties listing
    * fetched over whatever the lake speaks (reference
    * `datalakewrapper.py:88-102` pages it over REST; [[HttpTransport]]
    * binds this planner to that shape without a planner change). */
  def load(transport: LakeTransport): Seq[ObjectEntry] =
    load(transport, "index.json")

  def load(transport: LakeTransport, indexFile: String): Seq[ObjectEntry] = {
    val root = mapper.readTree(LakeTransport.readAll(transport, indexFile))
    root.get("objects").elements().asScala.map { o =>
      val ranges = Option(o.get("ranges")).map(_.properties().asScala.map { e =>
        val arr = e.getValue
        e.getKey -> (arr.get(0).asDouble(), arr.get(1).asDouble())
      }.toMap).getOrElse(Map.empty)
      val blooms = Option(o.get("blooms")).map(_.properties().asScala.map { e =>
        e.getKey -> LakeBloom.fromBase64(e.getValue.asText())
      }.toMap).getOrElse(Map.empty[String, Array[Long]])
      ObjectEntry(o.get("file").asText(), o.get("count").asLong(), ranges,
        blooms)
    }.toSeq
  }

  /** Filters this source can evaluate (and prune splits with). */
  def supportedFilter(f: Filter): Boolean = f match {
    case EqualTo(_, v)              => numeric(v).isDefined || v.isInstanceOf[String] || v.isInstanceOf[Boolean]
    // IN = OR of equalities; null list entries never match a record, so
    // only all-non-null lists are taken (others stay above the scan)
    case In(a, vs)                  =>
      vs.nonEmpty && vs.forall(v => v != null && supportedFilter(EqualTo(a, v)))
    case GreaterThan(_, v)          => numeric(v).isDefined
    case GreaterThanOrEqual(_, v)   => numeric(v).isDefined
    case LessThan(_, v)             => numeric(v).isDefined
    case LessThanOrEqual(_, v)      => numeric(v).isDefined
    case IsNotNull(_)               => true
    case And(l, r)                  => supportedFilter(l) && supportedFilter(r)
    case _                          => false
  }

  /** Split pruning: keep objects whose indexed value range can satisfy every
    * pushed filter (un-indexed fields never prune). This is the reference's
    * split-query planning — the lake only returns chunks matching the query
    * filter. */
  def prune(entries: Seq[ObjectEntry], filters: Seq[Filter]): Seq[ObjectEntry] =
    entries.filter(e => filters.forall(f => mayMatch(e, f)))

  private def mayMatch(e: ObjectEntry, f: Filter): Boolean = f match {
    case EqualTo(a, v) =>
      val rangeOk = e.ranges.get(a) match {
        case Some((lo, hi)) => numeric(v).forall(d => d >= lo && d <= hi)
        case None => true
      }
      // bloom skip: a definite miss in the object's filter means no record
      // equals v (false positives only ever UNDER-prune)
      rangeOk && e.blooms.get(a).forall(bits =>
        LakeBloom.keyOf(v).forall(LakeBloom.mightContain(bits, _)))
    // an object may hold an IN row iff it may hold ANY of the values —
    // each value gets the full range + bloom treatment
    case In(a, vs) => vs.exists(v => mayMatch(e, EqualTo(a, v)))
    case GreaterThan(a, v) =>
      e.ranges.get(a).forall { case (_, hi) => numeric(v).forall(hi > _) }
    case GreaterThanOrEqual(a, v) =>
      e.ranges.get(a).forall { case (_, hi) => numeric(v).forall(hi >= _) }
    case LessThan(a, v) =>
      e.ranges.get(a).forall { case (lo, _) => numeric(v).forall(lo < _) }
    case LessThanOrEqual(a, v) =>
      e.ranges.get(a).forall { case (lo, _) => numeric(v).forall(lo <= _) }
    case And(l, r) => mayMatch(e, l) && mayMatch(e, r)
    case _ => true
  }

  /** Record-side filter evaluation (the simulated server applies the pushed
    * query filter to each record before returning it). */
  def evalFilter(f: Filter, rec: Map[String, Any]): Boolean = f match {
    case EqualTo(a, v) => rec.get(a).orNull match {
      case null => false
      case x => (integral(x), integral(v)) match {
        // 64-bit-exact compare when both sides are integral (a Double
        // detour would equate ids differing only below 2^-53 relative)
        case (Some(xl), Some(vl)) => xl == vl
        case _ => (numeric(x), numeric(v)) match {
          case (Some(xd), Some(vd)) => xd == vd
          case _ => x == v || x.toString == v.toString
        }
      }
    }
    case In(a, vs)                => vs.exists(v => evalFilter(EqualTo(a, v), rec))
    case GreaterThan(a, v)        => cmp(rec, a, v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(rec, a, v).exists(_ >= 0)
    case LessThan(a, v)           => cmp(rec, a, v).exists(_ < 0)
    case LessThanOrEqual(a, v)    => cmp(rec, a, v).exists(_ <= 0)
    case IsNotNull(a)             => rec.get(a).orNull != null
    case And(l, r)                => evalFilter(l, rec) && evalFilter(r, rec)
    case _                        => true
  }

  private def cmp(rec: Map[String, Any], attr: String, v: Any): Option[Int] = {
    val x = rec.get(attr).orNull
    (integral(x), integral(v)) match {
      case (Some(xl), Some(yl)) => Some(java.lang.Long.compare(xl, yl))
      case _ => (Option(x).flatMap(numeric), numeric(v)) match {
        case (Some(xd), Some(yd)) => Some(java.lang.Double.compare(xd, yd))
        case _ => None
      }
    }
  }

  private def integral(v: Any): Option[Long] = v match {
    case l: Long  => Some(l)
    case i: Int   => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte  => Some(b.toLong)
    case _ => None
  }

  private def numeric(v: Any): Option[Double] = v match {
    case d: Double => Some(d)
    case f: Float  => Some(f.toDouble)
    case l: Long   => Some(l.toDouble)
    case i: Int    => Some(i.toDouble)
    case s: Short  => Some(s.toDouble)
    case b: Byte   => Some(b.toDouble)
    case d: java.math.BigDecimal => Some(d.doubleValue())
    case _ => None
  }
}
