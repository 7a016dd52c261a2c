package graft.jobs

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.sinks.Sinks

class MetricsSpec extends SparkSpec {
  import spark.implicits._

  test("observed metrics ride the write job — correct values, zero extra jobs") {
    val df = (1 to 500).map(i =>
        (i.toLong, if (i % 5 == 0) null else s"v$i", "1"))
      .toDF("id", "v", "schema_version")
    val dir = tempDir("metrics_w").toString

    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (observed, obs) = Metrics.observed(df, "test_bc",
        count(when($"v".isNull, lit(1))).as("v_nulls"))
      Sinks.writeVersioned(observed, dir)
      // obs.get blocks until the write job's metrics arrive — the listener
      // events for that job are fully delivered by then
      assert(Metrics.rows(obs) == 500L)
      assert(obs.get("v_nulls") == 100L)
      val after = jobs.get()
      // reading the metrics started no further job
      assert(jobs.get() == after)
      assert(after >= 1)
    } finally spark.sparkContext.removeSparkListener(listener)
    // the write itself is intact
    assert(spark.read.parquet(dir).count() == 500L)
  }
}
