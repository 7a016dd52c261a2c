package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run of a workload hands back to [[Main]]. */
final case class Outcome(
    setupS: Double,
    passS: Seq[Double],
    opS: Seq[(String, Seq[Double])],
    heapLiveMb: Double,
    attempted: Int,
    failures: Seq[String],
    printed: Seq[(String, String, Seq[Double])],
    layers: Map[String, Double],
    reconciled: Seq[(String, collection.Map[String, Double])],
    profile: Map[String, Any])

/** Shared run state: the session, the seed, the measuring budget, in the
  * traced mode the tracer, and the seconds from JVM start to a ready
  * session. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracer: Option[Tracer], val work: String, val sessionS: Double) {

  def span[T](name: String, attrs: (String, Any)*)(f: => T): T =
    tracer.fold(f)(_.span(name, attrs: _*)(f))

  /** Closed loop: run passes back to back until `seconds` have been
    * measured, at least one. Returns each pass's wall
    * time and whether it was traced, and, in the traced mode, the largest
    * live old generation seen after a full collection at the end of a pass
    * (outside its wall).
    *
    * The traced mode alternates traced and untraced passes. The first pass
    * is traced when `coldFirst` (it is the pass the untraced mode reports,
    * so its layers are the ones to attribute). After it, the warm passes
    * start and end untraced, so that `trace.overhead` — the median warm
    * traced pass over the median warm untraced one, minus 1 — brackets
    * each traced pass between untraced ones. Per-layer metrics come from
    * the first traced pass. */
  def passes(coldFirst: Boolean)(pass: (Int, Boolean) => Unit)
      : (Seq[(Double, Boolean)], Double) = {
    val out = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var heapLive = 0.0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val warmFrom = if (coldFirst) 1 else 0
    def enough = elapsed >= seconds && out.nonEmpty && (tracer.isEmpty || {
      val warm = out.drop(warmFrom)
      warm.size >= 3 && !warm.last._2
    })
    var i = 0
    while (!enough) {
      val traced = tracer.isDefined && (i % 2 == 0) == coldFirst
      val start = System.nanoTime()
      if (traced) tracer.get.arm()
      span("pass", "index" -> i, "traced" -> traced)(pass(i, traced))
      if (traced) tracer.get.disarm()
      out += (((System.nanoTime() - start) / 1e9, traced))
      if (tracer.isDefined) heapLive = heapLive.max(Counters.heapLiveMb())
      i += 1
    }
    tracer.foreach { tr =>
      def med(t: Boolean) = Report.median(out.drop(warmFrom).filter(_._2 == t).map(_._1).toSeq)
      tr.overhead = med(true) / med(false) - 1
    }
    (out.toSeq, heapLive)
  }
}

object Ctx {
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
