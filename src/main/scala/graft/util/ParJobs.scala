package graft.util

import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.apache.spark.sql.SparkSession

/** Independent driver thunks (each typically one Spark action) run
  * concurrently, at most `maxParallel` at a time, as if the caller had
  * run them itself:
  *   - the worker threads are created by the calling thread, so they
  *     inherit a copy of its Spark local properties — job group, job
  *     description, scheduler pool, job tags, active session — and every
  *     job they submit is attributed, cancellable and traceable exactly
  *     like a job of the caller;
  *   - the first failure stops the hand-out of further thunks and cancels
  *     the siblings' running jobs (through a job tag private to this call,
  *     so no job of the caller outside this call is touched);
  *   - every worker is awaited before this returns or rethrows the first
  *     failure, so no job keeps running detached from its caller.
  * An interrupt of the waiting caller counts as a failure. */
object ParJobs {

  /** Results in thunk order; rethrows the first failure. */
  def run[T](spark: SparkSession, maxParallel: Int)(thunks: Seq[() => T]): Seq[T] = {
    require(maxParallel >= 1, s"maxParallel must be >= 1, got $maxParallel")
    val n = thunks.size
    if (n <= 1) return thunks.map(_())
    val sc = spark.sparkContext
    val tag = s"graft-parjobs-${java.util.UUID.randomUUID()}"
    val out = new Array[Any](n)
    val next = new AtomicInteger(0)
    val failure = new AtomicReference[Throwable](null)
    def fail(t: Throwable): Unit =
      if (failure.compareAndSet(null, t)) sc.cancelJobsWithTag(tag, "a sibling job failed")
    val workers = Seq.fill(math.min(maxParallel, n))(new Thread(() => {
      sc.addJobTag(tag)
      var i = next.getAndIncrement()
      while (i < n && failure.get == null) {
        try out(i) = thunks(i)()
        catch { case t: Throwable => fail(t) }
        i = next.getAndIncrement()
      }
    }, "graft-parjobs"))
    workers.foreach { w => w.setDaemon(true); w.start() }
    var interrupted = false
    workers.foreach { w =>
      while (w.isAlive) {
        try w.join(100)
        catch { case e: InterruptedException => interrupted = true; fail(e) }
        // a sibling may have submitted its job just after the cancel:
        // keep cancelling until every worker has returned
        if (failure.get != null && w.isAlive) sc.cancelJobsWithTag(tag, "a sibling job failed")
      }
    }
    if (interrupted) Thread.currentThread().interrupt()
    Option(failure.get).foreach(t => throw t)
    out.toSeq.asInstanceOf[Seq[T]]
  }

  /** Two thunks of different result types, concurrently. */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val r = run[Any](spark, 2)(Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
