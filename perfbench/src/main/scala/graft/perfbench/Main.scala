package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --workload etl_drift|etl_stable|gate_mix --seed N --seconds S
  *      --trace 0|1 --work DIR --expected FILE
  * }}}
  *
  * Closed loop, one client, `local[4]` with 4 shuffle partitions. Prints a
  * table of the workload's metrics (median, quartiles, sample count), the
  * failed operations, and as its last line one JSON object with every
  * metric; `perfbench/run.py` picks the declared ones from it. Exits 1 when
  * an output check fails.
  */
object Main {

  /** The engine's read-only test tables (TESTDATA.md). */
  val TestData = "/root/testdata"

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val work = Path.of(args("work")).toAbsolutePath.toString
    require(Set("etl_drift", "etl_stable", "gate_mix")(workload), s"unknown workload $workload")
    Files.createDirectories(Path.of(work))

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // executor threads, the parquet reader and the codegen compiler start
    // before anything is timed
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, tracer, work, sessionS)
    val out =
      try workload match {
        case "etl_drift" => EtlWorkload.run(ctx, drift = true)
        case "etl_stable" => EtlWorkload.run(ctx, drift = false)
        case "gate_mix" => GateMix.run(ctx, args("expected"))
      } finally spark.stop()

    val failRatio = out.failures.size.toDouble / out.attempted
    println(s"workload $workload seed $seed trace ${if (trace) 1 else 0}: " +
      s"${out.attempted} operations attempted, ${out.failures.size} failed")
    (out.printed :+ (("fail_ratio", "ratio", Seq(failRatio)))).foreach {
      case (n, u, xs) => println(Report.line(n, u, xs))
    }
    out.failures.foreach(f => println(s"  FAILED $f"))

    val endToEnd = Map(
      "setup_s" -> out.setupS,
      "pass_s" -> Report.median(out.passS),
      "op_geomean_s" -> Report.geomean(out.opS.map(o => Report.median(o._2))),
      "fail_ratio" -> failRatio)
    var layers = out.layers
    tracer.foreach { tr =>
      layers += "trace.overhead" -> tr.overhead
      layers += "jvm.heap_live_mb" -> out.heapLiveMb
      println("per-layer metrics, first traced pass:")
      layers.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  $k%-34s $v%.6f") }
      out.reconciled.foreach { case (what, r) =>
        val (wall, unattributed) = (r("wall_s"), r("unattributed_driver"))
        val parts = r.filter(p => !p._1.endsWith("_s") && p._1 != "unattributed_driver")
        println(f"reconciliation $what: wall=$wall%.3f s, measured parts=${parts.values.sum}%.3f s " +
          f"(${parts.values.sum / wall * 100}%.1f%%, ${if (Tracer.reconciles(r)) "ok" else "OFF"}), " +
          f"unattributed driver time $unattributed%.3f s")
        parts.foreach { case (k, v) => println(f"    $k%-28s $v%.3f s") }
      }
      println(s"reconciliation: ${out.reconciled.count(r => Tracer.reconciles(r._2))} of " +
        s"${out.reconciled.size} spans within 10% of their wall")
    }
    val profile = Map(
      "reconciliation" -> out.reconciled.map { case (what, r) =>
        what -> (r ++ Map("within_10pct" -> Tracer.reconciles(r)))
      }.toMap,
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "end_to_end" -> endToEnd, "per_layer" -> layers, "failures" -> out.failures,
      "spans" -> tracer.toSeq.flatMap(tr => tr.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> tr.selfMs(s),
        "attrs" -> s.attrs)))) ++ out.profile
    Files.writeString(Path.of(s"$work/profile_${workload}_$seed.json"), Report.json(profile))

    println(Report.json(Map(
      "correct" -> out.failures.isEmpty,
      "attempted" -> out.attempted,
      "failed" -> out.failures.size,
      "metrics" -> (if (trace) layers else endToEnd))))
    System.out.flush()
    sys.exit(if (out.failures.isEmpty) 0 else 1)
  }

  /** Per-layer metrics every workload reports, from the first traced pass. */
  def traceLayers(tr: Tracer): Map[String, Double] = {
    val pass = tr.spans.find(s => s.name == "pass" && s.attrs.get("traced").contains(true)).get
    val wall = pass.wallMs / 1e3
    val union = tr.jobUnionMs(pass.startMs, pass.endMs) / 1e3
    val jobCounts = tr.moduleJobCounts(pass.startMs, pass.endMs)
    val modules = tr.moduleJobSeconds(Seq(pass))
    val named = Seq("schema", "sinks", "jobs", "operators", "queries", "streaming", "other")
    val sums = tr.sums.toMap ++ tr.streamTotals()
    val fromSums = Seq(
      "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
      "spark.executor_cpu_s", "spark.task_wait_s", "spark.failed_tasks",
      "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
      "shuffle.spill_bytes", "io.input_bytes", "sinks.output_bytes",
      "catalyst.rule_s", "catalyst.rule_runs", "catalyst.analysis_s",
      "catalyst.optimization_s", "catalyst.planning_s", "catalyst.executions",
      "codegen.compiles", "codegen.compile_s", "jvm.gc_s",
      "stream.batches", "stream.trigger_s", "stream.add_batch_s",
      "stream.planning_s", "stream.wal_commit_s", "stream.commit_offsets_s",
      "stream.overhead_s", "stream.lifecycle_s", "stream.state_rows",
      "stream.state_mem_bytes", "stream.state_commit_s")
    fromSums.map(k => k -> sums.getOrElse(k, 0.0)).toMap ++
      (modules.keySet ++ named).map(m => s"$m.job_s" -> modules.getOrElse(m, 0.0)) ++
      (jobCounts.keySet ++ named).map(m => s"$m.jobs" -> jobCounts.getOrElse(m, 0).toDouble) ++
      Map(
        "catalyst.rule_effective_ratio" ->
          sums.getOrElse("catalyst.rule_effective_runs", 0.0) /
            sums.getOrElse("catalyst.rule_runs", 1.0).max(1.0),
        "spark.job_union_s" -> union,
        "spark.driver_gap_s" -> (wall - union),
        "jvm.metaspace_mb" -> Counters.metaspaceMb)
  }
}
