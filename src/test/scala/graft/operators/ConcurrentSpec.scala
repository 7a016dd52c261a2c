package graft.operators

import org.apache.spark.TaskContext

import graft.SparkSpec

/** A failing leg surfaces at once, whatever its position, and takes the
  * Spark jobs of its sibling legs down with it. */
class ConcurrentSpec extends SparkSpec {

  /** One task that runs for 30 s unless it is killed. */
  private def longJob(): Long =
    spark.sparkContext.parallelize(Seq(1L), 1).map { x =>
      val end = System.nanoTime() + 30L * 1000000000L
      val task = TaskContext.get()
      while (System.nanoTime() < end && !task.isInterrupted()) Thread.sleep(20)
      x
    }.count()

  /** Throws 100 ms after the sibling's job is seen running. */
  private def failing(): Long = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 5L * 1000000000L
    while (tracker.getActiveJobIds.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    Thread.sleep(100)
    throw new IllegalStateException("leg failed")
  }

  private def assertFailsFast(run: => (Long, Long)): Unit = {
    val tracker = spark.sparkContext.statusTracker // session up before legs
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](run)
    val waited = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "leg failed")
    assert(waited < 5.0, s"the failure surfaced after $waited s")
    val deadline = System.nanoTime() + 5L * 1000000000L
    while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(tracker.getActiveJobIds.isEmpty,
      "the sibling leg's Spark job outlived the failure")
  }

  test("a failing first leg cancels the second leg's running job") {
    assertFailsFast(Concurrent.inParallel(failing(), longJob()))
  }

  test("a failing second leg does not wait for the first leg's job") {
    assertFailsFast(Concurrent.inParallel(longJob(), failing()))
  }
}
