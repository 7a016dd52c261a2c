package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.jobs.PipelineRunner
import graft.jobs.PipelineRunner.JobReport

/** `etl_drift` / `etl_stable`: the paper's subject-area job. One pass is one
  * cycle of three `runSubjectArea` loads into fresh bronze/silver/registry
  * roots — the full load, then two incremental loads. */
object EtlWorkload {

  /** Source tables the lake is cut from. */
  val SourceDir = Main.TestData + "/sf0.01"

  final case class Load(cycle: Int, load: String, wallS: Double, reports: Seq[JobReport])

  def run(ctx: Ctx, drift: Boolean): Outcome = {
    val spark = ctx.spark
    val root = s"${ctx.work}/etl"
    LakeGen.deleteTree(Path.of(root))
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) failures += what
    }

    val lake = s"$root/lake"
    val (_, genS) = Ctx.timed(ctx.span("generate")(
      LakeGen.write(spark, SourceDir, lake, ctx.seed, drift)))

    def cycle(i: Int): Seq[Load] = {
      val dir = s"$root/cycle$i"
      LakeGen.loads.map { load =>
        val (reports, s) = Ctx.timed(ctx.span("load", "cycle" -> i, "load" -> load)(
          PipelineRunner.runSubjectArea(spark, LakeGen.config, LakeGen.subjectArea,
            s"$lake/$load", s"$dir/bronze", s"$dir/silver", Some(s"$dir/registry"))))
        Load(i, load, s, reports)
      }
    }
    val setupS = ctx.sessionS + genS

    // no warm-up: a scheduled subject-area load runs in a fresh driver, so
    // the reported pass is the first cycle after start-up and generation
    val done = mutable.ArrayBuffer.empty[(Seq[Load], Boolean)]
    val (walls, heapLive) = ctx.passes(coldFirst = true) { (i, traced) =>
      done += ((cycle(i), traced))
    }

    // output checks, outside the timed region; one class per driver thread
    val lastCycle = done.last._1.head.cycle
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val (perClass, checksS) = try Ctx.timed(LakeGen.classes.map { spec =>
      pool.submit(() => {
        val (landed, _) = LakeGen.landing(spark, SourceDir, spec, ctx.seed, drift)
        landed.cache()
        try {
          // per load: rows landed, and rows whose key lands for the first time
          val firsts = Seq(col("_bucket") < 800, col("_bucket").between(800, 899),
            col("_bucket") >= 900)
          val r = landed.groupBy().agg(count(lit(1)),
            (LakeGen.loads.map(LakeGen.loadFilter) ++ firsts).map(c => count(when(c, 1))): _*)
            .head()
          val want = LakeGen.expectedSilver(landed)
          val got = spark.read.parquet(s"$root/cycle$lastCycle/silver/${spec.silverTable}")
          val sameCols = got.columns.sorted.sameElements(want.columns.sorted)
          val aligned = if (sameCols) want.select(got.columns.map(c => col(s"`$c`")): _*) else want
          val silverOk = sameCols && got.exceptAll(aligned).isEmpty && aligned.exceptAll(got).isEmpty
          (spec, LakeGen.loads.zipWithIndex.map { case (l, j) => l -> r.getLong(1 + j) }.toMap,
            LakeGen.loads.zipWithIndex.map { case (l, j) => l -> r.getLong(4 + j) }.toMap,
            silverOk, got.columns.sorted.mkString(","))
        } finally landed.unpersist()
      })
    }.map(_.get())) finally pool.shutdown()
    val expected = perClass.map(c => c._1.businessClass -> (c._2, c._3)).toMap
    val versions = if (drift) LakeGen.Variants else 1
    done.foreach { case (loads, _) =>
      loads.foreach { l =>
        l.reports.foreach { r =>
          val (_, fresh) = expected(r.businessClass)
          check(r.success && r.schemaVersions == versions && r.rows == fresh(l.load),
            s"cycle ${l.cycle} ${l.load} ${r.businessClass}: success=${r.success} " +
              s"versions=${r.schemaVersions} rows=${r.rows} error=${r.error.getOrElse("")}")
        }
      }
    }
    perClass.foreach { case (spec, _, _, silverOk, cols) =>
      check(silverOk, s"silver ${spec.silverTable} differs from the distinct landed rows " +
        s"(columns $cols)")
    }

    val all = done.flatMap(_._1).toSeq
    val untraced = done.filterNot(_._2).flatMap(_._1).toSeq
    val full = untraced.filter(_.load == "full").map(_.wallS)
    val incr = untraced.filter(_.load != "full").map(_.wallS)
    val silverRows = LakeGen.loads.map(l => expected.values.map(_._2(l)).sum).sum.toDouble
    val rowsPerS = done.filterNot(_._2).map(c => silverRows / c._1.map(_.wallS).sum).toSeq
    val opS = LakeGen.loads.map(l => l -> untraced.filter(_.load == l).map(_.wallS))
    val passS = walls.filterNot(_._2).map(_._1)

    val layers = ctx.tracer.map { tr =>
      val tracedLoads = done.find(_._2).get._1
      val fulls = tracedLoads.filter(_.load == "full")
      val incrs = tracedLoads.filter(_.load != "full")
      val landed = LakeGen.loads.tail.map(l => expected.values.map(_._1(l)).sum).sum.toDouble
      val appended = LakeGen.loads.tail.map(l => expected.values.map(_._2(l)).sum).sum.toDouble
      val tracedCycle = tracedLoads.head.cycle
      val files = Files.walk(Path.of(s"$root/cycle$tracedCycle"))
      val parquet = try files.iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet")) finally files.close()
      def classStats(ls: Seq[Load], tag: String): Map[String, Double] = Map(
        s"jobs.class_s.max$tag" -> ls.map(_.reports.map(_.durationSec).max).sum / ls.size,
        s"jobs.class_s.sum$tag" -> ls.map(_.reports.map(_.durationSec).sum).sum / ls.size,
        s"jobs.class_overlap$tag" -> ls.map(l => l.reports.map(_.durationSec).sum / l.wallS).sum / ls.size)
      classStats(fulls, "") ++ classStats(incrs, ".incr") ++ Map(
        "schema.versions" -> fulls.head.reports.map(_.schemaVersions).sum.toDouble,
        "operators.incr_new_ratio" -> appended / landed,
        "sinks.files" -> parquet.toDouble) ++
        Main.traceLayers(tr)
    }.getOrElse(Map.empty)

    val reconciled = ctx.tracer.toSeq.flatMap { tr =>
      val cycle = done.find(_._2).get._1.head.cycle
      val loadSpans = tr.spans.filter(s => s.name == "load" && s.attrs("cycle") == cycle)
      Seq("full", "incr1").flatMap(l => loadSpans.find(_.attrs("load") == l))
        .map(s => s"load ${s.attrs("load")}" -> tr.reconcile(s))
    }

    Outcome(
      setupS = setupS,
      passS = passS,
      opS = opS,
      heapLiveMb = heapLive,
      attempted = attempted,
      failures = failures.toSeq,
      printed = Seq(
        ("setup_s", "s", Seq(setupS)),
        ("full_load_s", "s", full),
        ("incr_load_s", "s", incr),
        ("rows_per_s", "rows/s", rowsPerS)),
      layers = layers,
      reconciled = reconciled,
      profile = Map(
        "generate_s" -> genS, "checks_s" -> checksS,
        "loads" -> all.map(l => Map("cycle" -> l.cycle, "load" -> l.load,
          "wall_s" -> l.wallS, "classes" -> l.reports.map(r => Map(
            "class" -> r.businessClass, "success" -> r.success, "rows" -> r.rows,
            "versions" -> r.schemaVersions, "duration_s" -> r.durationSec))))))
  }
}
