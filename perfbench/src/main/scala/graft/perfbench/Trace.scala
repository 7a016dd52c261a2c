package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, on the same
  * base as the times Spark puts on its listener events. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** A span around one call into the engine. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                      var endMs: Double, attrs: mutable.LinkedHashMap[String, Any]) {
  def wallMs: Double = endMs - startMs
}

/** Process-wide counters the engine already keeps; a traced pass reads them
  * before and after. */
final case class Counters(ruleNs: Long, ruleRuns: Long, ruleEffective: Long,
                          compileNs: Long, compiles: Long, gcMs: Long) {
  def -(o: Counters): Counters = Counters(ruleNs - o.ruleNs,
    ruleRuns - o.ruleRuns, ruleEffective - o.ruleEffective,
    compileNs - o.compileNs, compiles - o.compiles, gcMs - o.gcMs)
}

object Counters {
  def now(): Counters = {
    val r = RuleExecutor.getCurrentMetrics()
    Counters(r.time, r.numRuns, r.numEffectiveRuns, CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.max(0L)).sum)
  }

  def metaspaceMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum / 1048576.0

  /** Old-generation occupancy right after a full collection, in MB. */
  def heapLiveMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }
}

/** The traced mode's recorder: spans kept in memory, plus listeners that are
  * attached only for traced passes (`arm`/`disarm`). Every job is assigned
  * to the engine module whose innermost `graft.<module>` frame appears in its
  * call site; jobs with none (stream threads, the benchmark's own actions)
  * count as `other`. */
final class Tracer(spark: SparkSession) {

  final case class Job(start: Double, var end: Double, module: String)
  final case class Interval(start: Double, end: Double)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageModule = mutable.Map.empty[Int, String]
  private val executionModule = mutable.Map.empty[Long, String]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val phases = mutable.ArrayBuffer.empty[Interval]
  private val executions = mutable.LinkedHashMap.empty[Long, Array[Double]]
  // Catalyst rule and Janino compile time as they accrue: (time, rule ns,
  // compile ns) since the sample before, taken every millisecond
  private val activity = mutable.ArrayBuffer.empty[(Double, Long, Long)]
  private val streams = mutable.LinkedHashMap.empty[java.util.UUID, Array[Double]]
  private val streamLast = mutable.Map.empty[java.util.UUID, (Long, Long)]
  val sums: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double]
  // only the first traced pass is recorded; later traced passes keep the
  // listeners attached so that the overhead estimate pays their dispatch
  private var recording = true
  private def add(k: String, v: Double): Unit =
    if (recording) sums(k) = sums.getOrElse(k, 0.0) + v
  var overhead: Double = Double.NaN

  private def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim.stripPrefix("at ").trim)
      .filter(l => l.startsWith("graft.") && !l.startsWith("graft.perfbench."))
      .map { l =>
        val pkg = l.stripPrefix("graft.").takeWhile(_ != '.')
        if (pkg.headOption.exists(_.isLower)) pkg else "graft"
      }.nextOption().getOrElse("other")

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        lock.synchronized {
          executionModule(x.executionId) = moduleOf(x.details)
          if (recording) executions(x.executionId) = Array(x.time.toDouble, Double.NaN)
        }
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
        lock.synchronized(executions.get(x.executionId).foreach(_(1) = x.time.toDouble))
      case _ =>
    }
    // a job submitted from a Spark-internal thread (adaptive query stages,
    // broadcasts) takes the module of the SQL execution it belongs to
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val own = e.stageInfos.headOption.map(s => moduleOf(s.details)).getOrElse("other")
      val module = if (own != "other") own else Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionModule.get(id.toLong)).getOrElse(own)
      if (recording) {
        jobs(e.jobId) = Job(e.time.toDouble, Double.NaN, module)
        e.stageInfos.foreach(s => stageModule(s.stageId) = module)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
      add("spark.jobs", 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val s = e.stageInfo
      stageSubmit((s.stageId, s.attemptNumber())) =
        s.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized(add("spark.stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      add("spark.tasks", 1)
      if (!e.taskInfo.successful) add("spark.failed_tasks", 1)
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(t =>
        add("spark.task_wait_s", (e.taskInfo.launchTime - t).max(0L) / 1e3))
      val m = e.taskMetrics
      if (m != null) {
        add("spark.executor_run_s", m.executorRunTime / 1e3)
        add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
        val module = stageModule.getOrElse(e.stageId, "other")
        add(s"$module.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      add("catalyst.executions", 1)
      qe.tracker.phases.foreach { case (phase, p) =>
        if (phase != "parsing") {
          add(s"catalyst.${phase}_s", p.durationMs / 1e3)
          if (recording) phases += Interval(p.startTimeMs.toDouble, p.endTimeMs.toDouble)
        }
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized {
        if (recording) streams(e.runId) = Array(
          java.time.Instant.parse(e.timestamp).toEpochMilli.toDouble, Double.NaN)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() / 1e3 }
        add("stream.batches", 1)
        add("stream.trigger_s", d.getOrElse("triggerExecution", 0.0))
        add("stream.add_batch_s", d.getOrElse("addBatch", 0.0))
        add("stream.planning_s", d.getOrElse("queryPlanning", 0.0))
        add("stream.wal_commit_s", d.getOrElse("walCommit", 0.0))
        add("stream.commit_offsets_s", d.getOrElse("commitOffsets", 0.0))
        add("stream.state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
        val (rows, mem) = (p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
        val m0 = streamLast.get(p.runId).fold(0L)(_._2)
        if (recording) streamLast(p.runId) = (rows, m0.max(mem))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      lock.synchronized {
        streams.get(e.runId).foreach(_(1) = System.currentTimeMillis().toDouble)
      }
  }

  private var armedAt: Counters = _
  @volatile private var sampling = false
  private var sampler: Thread = _

  /** Attach the listeners for one traced pass. While the first one runs, a
    * sampler places the engine's rule and compile time counters on the
    * timeline: the engine counts both but not when they ran. */
  def arm(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    armedAt = Counters.now()
    if (recording) {
      sampling = true
      sampler = new Thread(() => {
        var last = (armedAt.ruleNs, armedAt.compileNs)
        while (sampling) {
          Thread.sleep(1)
          val now = (RuleExecutor.getCurrentMetrics().time, CodeGenerator.compileTime)
          if (now != last) {
            lock.synchronized(activity += ((Clock.nowMs, now._1 - last._1, now._2 - last._2)))
            last = now
          }
        }
      }, "perfbench-sampler")
      sampler.setDaemon(true)
      sampler.start()
    }
  }

  /** Wait until the listeners have seen every event, then detach them. */
  def disarm(): Unit = {
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
    if (sampler != null) { sampling = false; sampler.join(); sampler = null }
    val d = Counters.now() - armedAt
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    lock.synchronized {
      add("catalyst.rule_s", d.ruleNs / 1e9)
      add("catalyst.rule_runs", d.ruleRuns.toDouble)
      add("catalyst.rule_effective_runs", d.ruleEffective.toDouble)
      add("codegen.compiles", d.compiles.toDouble)
      add("codegen.compile_s", d.compileNs / 1e9)
      add("jvm.gc_s", d.gcMs / 1e3)
      recording = false
    }
  }

  /** Record `f` as a span under the current one. Each span carries the
    * Janino compile count and time spent while it was open. */
  def span[T](name: String, attrs: (String, Any)*)(f: => T): T = {
    val before = Counters.now()
    val s = Span(spans.size, stack.headOption.getOrElse(-1), name, Clock.nowMs,
      Double.NaN, mutable.LinkedHashMap(attrs: _*))
    spans += s
    stack = s.id :: stack
    try f
    finally {
      s.endMs = Clock.nowMs
      stack = stack.tail
      val d = Counters.now() - before
      s.attrs("codegen_ms") = d.compileNs / 1e6
      s.attrs("compiles") = d.compiles
    }
  }

  /** Self time: the span's wall minus the part its children cover. */
  def selfMs(s: Span): Double =
    s.wallMs - covered(spans.filter(_.parent == s.id).map(c => Interval(c.startMs, c.endMs)).toSeq,
      s.startMs, s.endMs)

  private def covered(xs: Seq[Interval], a: Double, b: Double): Double = {
    var (total, reach) = (0.0, a)
    xs.map(i => Interval(i.start.max(a), i.end.min(b))).filter(i => i.end > i.start)
      .sortBy(_.start).foreach { i =>
        if (i.end > reach) { total += i.end - i.start.max(reach); reach = i.end }
      }
    total
  }

  /** Union of the job intervals inside [a, b], in ms. */
  def jobUnionMs(a: Double, b: Double): Double = lock.synchronized {
    covered(jobs.values.filter(!_.end.isNaN).map(j => Interval(j.start, j.end)).toSeq, a, b)
  }

  /** Split a span's wall into non-overlapping parts, each from its own
    * measurement. In order of precedence: Spark job time by module (time
    * when jobs of several modules run is shared equally); Catalyst — the
    * phases the `QueryExecutionListener` reports and rule time no executed
    * query reports, such as the eager analysis of frames and adaptive
    * re-optimisation; Janino compile time; the rest of SQL executions
    * (adaptive planning, stage submission, result handling); and stream
    * query lifecycle. Rule and compile time come from the sampled
    * counters, each sample's increment placed just before it. What no
    * part covers is `unattributed_driver`. The parts cannot sum to more
    * than the wall; [[Tracer.reconciles]] checks they leave little out. */
  def reconcile(s: Span): mutable.LinkedHashMap[String, Double] = lock.synchronized {
    val (a, b) = (s.startMs, s.endMs)
    def clip(x: Double) = x.max(a).min(b)
    def within(xs: Iterable[Interval]) =
      xs.map(i => Interval(clip(i.start), clip(i.end))).filter(i => i.end > i.start).toSeq
    def accrued(ns: ((Double, Long, Long)) => Long) =
      within(activity.filter(ns(_) > 0).map(x => Interval(x._1 - ns(x) / 1e6, x._1)))
    val js = jobs.values.filter(!_.end.isNaN).map(j => (clip(j.start), clip(j.end), j.module))
      .filter(j => j._2 > j._1).toSeq
    val layers = Seq(
      "catalyst" -> (within(phases) ++ accrued(_._2)),
      "codegen" -> accrued(_._3),
      "sql_execution" -> within(executions.values.filter(!_(1).isNaN)
        .map(v => Interval(v(0), v(1)))),
      "stream_lifecycle" -> within(streams.values.map(v =>
        Interval(v(0), if (v(1).isNaN) b else v(1)))))
    val cuts = (Seq(a, b) ++ js.flatMap(j => Seq(j._1, j._2)) ++
      layers.flatMap(_._2).flatMap(i => Seq(i.start, i.end))).distinct.sorted
    val parts = mutable.LinkedHashMap.empty[String, Double]
    def put(k: String, v: Double): Unit = parts(k) = parts.getOrElse(k, 0.0) + v
    cuts.zip(cuts.tail).foreach { case (x, y) =>
      val mid = (x + y) / 2
      val mods = js.filter(j => j._1 <= mid && mid < j._2).map(_._3).distinct
      if (mods.nonEmpty) mods.foreach(m => put(s"jobs.$m", (y - x) / mods.size))
      else layers.find(_._2.exists(i => i.start <= mid && mid < i.end))
        .foreach(l => put(l._1, y - x))
    }
    val wall = b - a
    parts("unattributed_driver") = wall - parts.values.sum
    val out = parts.map { case (k, v) => k -> v / 1e3 }
    out("wall_s") = wall / 1e3
    out
  }

  /** Per-run stream totals: lifecycle outside triggers, and state size as
    * each query last reported it. */
  def streamTotals(): Map[String, Double] = lock.synchronized {
    val life = streams.values.filter(!_(1).isNaN).map(v => v(1) - v(0)).sum / 1e3
    Map(
      "stream.queries" -> streams.size.toDouble,
      "stream.lifecycle_s" -> (life - sums.getOrElse("stream.trigger_s", 0.0)),
      "stream.overhead_s" -> (sums.getOrElse("stream.trigger_s", 0.0) -
        sums.getOrElse("stream.add_batch_s", 0.0)),
      "stream.state_rows" -> streamLast.values.map(_._1).sum.toDouble,
      "stream.state_mem_bytes" -> streamLast.values.map(_._2).sum.toDouble)
  }

  /** Union of job time per module over the given spans, in seconds. */
  def moduleJobSeconds(over: Seq[Span]): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double]
    for (s <- over; (k, v) <- reconcile(s) if k.startsWith("jobs.")) {
      val m = k.stripPrefix("jobs.")
      acc(m) = acc.getOrElse(m, 0.0) + v
    }
    acc.toMap
  }

  def moduleJobCounts(a: Double, b: Double): Map[String, Int] = lock.synchronized {
    jobs.values.filter(j => j.start >= a && j.start < b).groupBy(_.module)
      .map { case (m, js) => m -> js.size }
  }
}

object Tracer {

  /** The measured parts of a [[Tracer.reconcile]] result cover all but
    * at most a tenth of its wall. */
  def reconciles(r: collection.Map[String, Double]): Boolean =
    r("unattributed_driver") <= 0.1 * r("wall_s")
}
