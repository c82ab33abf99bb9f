package graft.ops

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

/** Runs a handful of independent units of work — table
  * loads, SCD2 merges, gold marts — at the same time, so their small
  * Spark jobs share the local scheduler instead of queueing behind each
  * other on one thread.
  *
  * Contract:
  *  - one fixed pool per call, one thread per thunk (at most
  *    [[MaxThreads]]), created on the calling thread — so each worker
  *    inherits the caller's Spark local properties (job group, scheduler
  *    pool, tracing tags), which Spark keeps in an inheritable
  *    thread-local;
  *  - results come back in input order;
  *  - every thunk runs to completion before anything is rethrown, and
  *    the exception rethrown is the first failure in input order,
  *    unwrapped. A caller that retries after a failure therefore never
  *    races a sibling's still-running write.
  */
object Concurrently {

  /** Upper bound on one call's pool; larger batches queue on it. */
  val MaxThreads = 8

  def all[A](thunks: Seq[() => A]): Seq[A] =
    if (thunks.isEmpty) Seq.empty
    else {
      val threadIds = new AtomicInteger
      val pool = Executors.newFixedThreadPool(math.min(thunks.length, MaxThreads),
        new ThreadFactory {
          def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-concurrently-${threadIds.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        })
      try {
        val futures = thunks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
        val outcomes = futures.map { f =>
          try Right(f.get())
          catch { case e: ExecutionException => Left(e.getCause) }
        }
        outcomes.collectFirst { case Left(e) => throw e }
        outcomes.collect { case Right(a) => a }
      } finally pool.shutdown()
    }
}
