package graft.operators

import java.util.concurrent.{CancellationException, ExecutionException,
  ExecutorCompletionService, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession

/** Driver-side overlap of INDEPENDENT Spark work (optimization guide
  * §2.6): Spark happily schedules several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. Work with two or more independent legs that each
  * materialize internally (iterative operators with per-round actions,
  * `localCheckpoint`ed channel outputs, per-class pipeline loads, per-
  * directory stream staging) leaves most of the machine idle during each
  * leg's stage tails; evaluating the legs on a small thread pool lets the
  * other legs' tasks back-fill those gaps. Results are unchanged — each
  * leg is the same deterministic computation, just submitted from its own
  * thread. */
object Concurrent {

  /** Evaluate independent legs, each on its own thread, at most `threads`
    * at once; results come back in leg order. Completions are taken as
    * they finish, so the first failure surfaces at once: the legs not yet
    * started are skipped, the Spark jobs of the running ones are cancelled
    * until those legs stop, and the failure is rethrown. The jobs are
    * found through a job tag the legs add to their thread; a tag, unlike
    * `setJobGroup`, leaves the job group a leg inherits (a stream's, when
    * called inside `foreachBatch`) in place. Each leg must fully
    * materialize its own work for the overlap to be real. */
  def all[A](legs: Seq[() => A], threads: Int = Int.MaxValue): Seq[A] = {
    val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val tag = s"graft-legs-${java.util.UUID.randomUUID()}"
    val failed = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(legs.size, threads)))
    val done = new ExecutorCompletionService[(Int, A)](pool)
    legs.zipWithIndex.foreach { case (leg, i) =>
      done.submit { () =>
        if (failed.get) throw new CancellationException("a sibling leg failed")
        sc.foreach(_.addJobTag(tag))
        (i, leg())
      }
    }
    pool.shutdown()
    val out = new Array[Any](legs.size)
    try legs.foreach { _ =>
      val (i, a) = done.take().get()
      out(i) = a
    } catch {
      case e: ExecutionException =>
        failed.set(true)
        // a running leg may start another job after a cancel: repeat
        // until every leg thread has returned
        do sc.foreach(_.cancelJobsWithTag(tag))
        while (!pool.awaitTermination(50, TimeUnit.MILLISECONDS))
        throw e.getCause
    }
    out.toSeq.asInstanceOf[Seq[A]]
  }

  /** Evaluate two independent thunks concurrently, as [[all]]. */
  def inParallel[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = all(Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }
}
