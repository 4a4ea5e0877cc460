package graft.operators

import java.util.concurrent.{CompletableFuture, ExecutionException, ExecutorService, Executors,
  TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicLong

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

  /** How long a failed `b` waits for `a` after cancelling its jobs. */
  private val CancelWaitMs = 30000L
  private val calls = new AtomicLong()

  /** `a` still ran [[CancelWaitMs]] after `b` failed; `b`'s exception is the cause. */
  final class CancelTimeoutException(tag: String, cause: Throwable) extends RuntimeException(
    s"par2: b failed and a (job tag $tag) did not stop within $CancelWaitMs ms", cause)

  /** Run `a` on the pool while `b` runs on the calling thread; return
    * both. `a` runs under the caller's Spark local properties (job
    * group, job tags) and active session as they are at the call, so
    * its jobs answer to the caller's `cancelJobGroup`. Same failure
    * surface as sequential code: `par2` returns or throws only after
    * `a` has finished, so none of `a`'s Spark jobs or checkpoints
    * outlive the call. A failure of `a` alone propagates. When `b`
    * fails, `a`'s jobs (under a per-call job tag) are cancelled with
    * their tasks interrupted, and `b`'s exception is rethrown once `a`
    * is done, with `a`'s failure, if any, attached as suppressed — or
    * a [[CancelTimeoutException]] if `a` outlives [[CancelWaitMs]]. */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    if (disabled) { val av = a; (av, b) }
    else {
      val session = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      val tag = s"graft-par2-${calls.incrementAndGet()}"
      val fa = submit(session, tag, a)
      val bv =
        try b
        catch {
          case NonFatal(e) =>
            // cancel until `a` stops: it may start a new job after a cancel
            val deadline = System.nanoTime() + CancelWaitMs * 1000000L
            while (!fa.isDone && System.nanoTime() < deadline) {
              session.foreach(_.sparkContext.cancelJobsWithTag(tag))
              try fa.get(100, TimeUnit.MILLISECONDS)
              catch { case _: TimeoutException | _: ExecutionException => () }
            }
            if (!fa.isDone) throw new CancelTimeoutException(tag, e)
            try await(fa) catch { case NonFatal(ea) => if (ea ne e) e.addSuppressed(ea) }
            throw e
        }
      (await(fa), bv)
    }
  }

  /** A pool thread inherits Spark's local properties when it is CREATED
    * and keeps them across reuse, so they are captured per task (and
    * tagged there), as Spark's own broadcast pools do. Without a
    * session there is none. */
  private def submit[A](session: Option[SparkSession], tag: String, a: => A) =
    session match {
      case Some(s) => SQLExecution.withThreadLocalCaptured(s, pool) {
        s.sparkContext.addJobTag(tag)
        s.sparkContext.setInterruptOnCancel(true)
        a
      }
      case None => CompletableFuture.supplyAsync(() => a, pool)
    }

  private def await[A](f: CompletableFuture[A]): A =
    try f.get() catch { case e: ExecutionException => throw e.getCause }
}
