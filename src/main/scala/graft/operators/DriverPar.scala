package graft.operators

import java.util.concurrent.{CompletableFuture, ExecutionException, ExecutorService, Executors}

import scala.util.control.NonFatal

import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** Overlap INDEPENDENT driver-blocking work (guide §2.6): Spark's
  * scheduler happily runs several jobs at once inside one application —
  * actions are only sequential because the driver code calls them
  * sequentially. The ANN searchers issue long chains of small
  * driver-blocking actions (trainer collects, checkpoint
  * materializations, truth counts); where two chains share no data
  * dependency, running them from two threads lets the second chain's
  * tasks back-fill executors idled by the first chain's driver
  * round-trips — and, just as important locally, lets their PLANNING
  * and codegen (the measured 1.7–2.3 s inter-job gap of the trained
  * searchers) proceed concurrently.
  *
  * The pool is cached/unbounded (driver threads are cheap and the
  * fan-out is 2 per call site, bounded nesting depth 2) so a nested
  * par2 can never deadlock on pool exhaustion. Results are whatever the
  * thunks compute — bit-identical to sequential execution; only the
  * wall-clock interleaving changes. */
object DriverPar {
  private lazy val pool: ExecutorService =
    Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-driver-par")
      t.setDaemon(true)
      t
    })

  /** Sequential kill-switch: for A/B measurement and as a production
    * escape hatch (a cluster where concurrent driver jobs fight for
    * executors can flip it off without a rebuild). */
  private lazy val disabled = sys.env.contains("SPARK_GRAFT_NO_PAR")

  /** Run `a` on the pool while `b` runs on the calling thread; return
    * both. `a` runs under the caller's Spark local properties (job
    * group, job tags) and active session as they are at the call, so
    * its jobs answer to the caller's `cancelJobGroup`. Same failure
    * surface as sequential code: `par2` returns or throws only after
    * `a` has finished, so none of `a`'s Spark jobs or checkpoints
    * outlive the call. A failure of `a` alone propagates; when `b`
    * fails, its exception is rethrown once `a` is done, with `a`'s
    * failure, if any, attached as suppressed. */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    if (disabled) { val av = a; (av, b) }
    else {
      val fa = submit(a)
      val bv =
        try b
        catch {
          case NonFatal(e) =>
            try await(fa) catch { case NonFatal(ea) => if (ea ne e) e.addSuppressed(ea) }
            throw e
        }
      (await(fa), bv)
    }
  }

  /** A pool thread inherits Spark's local properties when it is CREATED
    * and keeps them across reuse, so they are captured per task, as
    * Spark's own broadcast pools do. Without a session there is none. */
  private def submit[A](a: => A): CompletableFuture[A] =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case Some(s) => SQLExecution.withThreadLocalCaptured(s, pool)(a)
      case None => CompletableFuture.supplyAsync(() => a, pool)
    }

  private def await[A](f: CompletableFuture[A]): A =
    try f.get() catch { case e: ExecutionException => throw e.getCause }
}
