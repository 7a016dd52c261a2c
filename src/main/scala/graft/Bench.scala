package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** One timed noop-sink run. Failures are REPORTED, not swallowed: a
    * crashing query must not masquerade as a fast one — the error rides in
    * the result and the bench exits nonzero. */
  def timeQuery(spark: SparkSession, sfDir: String,
                fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : (Double, Option[String]) = {
    // operators persist internal frames; drop them so every run (and
    // every query) pays its full pipeline, not a predecessor's cache
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    val err =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)) }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** The bench's one-line JSON: the suite total, each query's time and
    * each failed query's error, keyed by query name. Jackson escapes every
    * string, so an error message or a path of any content stays valid
    * JSON. */
  def report(results: Seq[(String, (Double, Option[String]))],
             sfDir: String): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val out = mapper.createObjectNode()
    out.put("metric", "total")
    out.put("value", results.map(_._2._1).sum)
    out.put("unit", "sec")
    val qs = out.putObject("queries")
    results.foreach { case (name, (t, _)) => qs.put(name, t) }
    val errs = out.putObject("errors")
    results.foreach { case (name, (_, e)) => e.foreach(errs.put(name, _)) }
    out.put("sf", sfDir)
    out.put("runs_per_query", 3)
    out.put("reported", "min")
    out.put("schedule", "interleaved-passes")
    mapper.writeValueAsString(out)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the session (executor threads, codegen compiler, parquet footer
    // cache) so the first timed query doesn't absorb startup cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.sources.Tables.load(spark, sfDir, "lineitem").count()
    // noop sink: every query column is materialized (count() would let
    // Catalyst prune the projection work under test). Each query runs
    // three times and reports the fastest run — min-of-2 still absorbed
    // multi-second machine stalls in round 7 (q03/q42 read 14-17s there
    // but probe at 0.6-1.0s in isolation). The three runs are
    // INTERLEAVED as full suite passes, not back-to-back: a bench-box
    // contention window (rounds 8-10 all show a multi-minute degraded
    // band — q15 recorded 12.4s against a 1.5s isolated probe in r10)
    // poisons all three consecutive runs of whatever query it lands on,
    // but with whole-suite passes the same query's other two runs sit
    // minutes away, so the min escapes the band and the artifact stays
    // trustworthy for round-over-round regression detection.
    // dev-loop filter (the driver sets no such env; full suite runs)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val suite = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val passes = (1 to 3).map { _ =>
      suite.map { case (name, fn) => name -> timeQuery(spark, sfDir, fn) }
    }
    val results = suite.map { case (name, _) =>
      val runs = passes.map(_.find(_._1 == name).get._2)
      name -> (runs.map(_._1).min, runs.flatMap(_._2).headOption)
    }
    val json = report(results, sfDir)
    println(json)
    // the full per-query JSON also lands in a FILE: the stdout tail gets
    // truncated in round artifacts (BENCH_r07 lost its first ~35 queries),
    // which makes head-of-suite regressions invisible round-over-round
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"bench_out write failed: ${e.getMessage}") }
    spark.stop()
    if (results.exists(_._2._2.isDefined)) sys.exit(1)
  }
}
