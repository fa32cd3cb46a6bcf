package graft.util

import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import java.util.concurrent.atomic.AtomicInteger

/** Submit mutually independent driver-side actions at the same time.
  *
  * A run made of many small Spark jobs leaves the cores idle while each
  * job waits for the one before it; jobs submitted from concurrent driver
  * threads share the executors under Spark's FIFO scheduler instead, so
  * one job's tail tasks overlap the next job's head.
  *
  * The pool is created and shut down inside the call, one thread per
  * thunk, with no configuration knob. Creating the threads inside the
  * call is what keeps Spark's per-thread state: `SparkContext` local
  * properties (job group, job tags, scheduler pool) and the active
  * session are inheritable thread locals, copied into a thread when it is
  * created — so every job a thunk starts carries the caller's job group
  * and can be cancelled and accounted with it. A shared or global pool
  * would run thunks on threads created earlier by someone else and drop
  * the group.
  */
object Concurrent {
  private val threadIds = new AtomicInteger()

  /** Run every thunk on its own thread and return the results in input
    * order. Waits for EVERY thunk, whether it succeeds or fails, then
    * rethrows the first failure in input order (later failures ride along
    * as suppressed exceptions) — so when this returns or throws, no thunk
    * is still running. An interrupt of the caller is passed on to the
    * thunks' threads; they are still waited out, and the caller's
    * interrupt flag is restored on return.
    */
  def all[T](thunks: Seq[() => T]): Seq[T] =
    if (thunks.isEmpty) Seq.empty
    else {
      val pool = Executors.newFixedThreadPool(thunks.size, { (r: Runnable) =>
        val t = new Thread(r, s"graft-concurrent-${threadIds.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
      var interrupted = false
      try {
        val futures = thunks.map { t =>
          val task: Callable[T] = () => t()
          pool.submit(task)
        }
        def await(f: Future[T]): Either[Throwable, T] = {
          var out: Option[Either[Throwable, T]] = None
          while (out.isEmpty)
            try out = Some(Right(f.get()))
            catch {
              case e: ExecutionException => out = Some(Left(e.getCause))
              case _: InterruptedException =>
                interrupted = true
                pool.shutdownNow()
            }
          out.get
        }
        val outcomes = futures.map(await)
        outcomes.collect { case Left(e) => e } match {
          case first +: rest =>
            rest.foreach(e => if (e ne first) first.addSuppressed(e))
            throw first
          case _ => outcomes.collect { case Right(v) => v }
        }
      } finally {
        pool.shutdown()
        if (interrupted) Thread.currentThread().interrupt()
      }
    }
}
