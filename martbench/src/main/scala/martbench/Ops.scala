package martbench

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.SparkContext

/** Runs each benchmark operation under its own Spark job group with a
  * deadline. When the deadline passes, the group's jobs are cancelled;
  * a failed or timed-out op is recorded by name and exception class and
  * the benchmark moves on. A wrong answer is recorded with [[fail]], so
  * it counts as failed and never as a fast timing. */
final class Ops(sc: SparkContext) {
  private val watchdog: ScheduledExecutorService = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "martbench-deadline"); t.setDaemon(true); t
  }
  var attempted = 0
  val failures = mutable.ArrayBuffer[(String, String)]()

  /** `body`'s result, or None when it threw or outlived `deadlineS`. */
  def run[T](name: String, deadlineS: Double)(body: => T): Option[T] = {
    attempted += 1
    val group = s"martbench-$attempted"
    val expired = new AtomicBoolean(false)
    sc.setJobGroup(group, name, interruptOnCancel = true)
    val timer = watchdog.schedule(new Runnable {
      def run(): Unit = { expired.set(true); sc.cancelJobGroup(group) }
    }, (deadlineS * 1000).toLong, TimeUnit.MILLISECONDS)
    try Some(body)
    catch {
      case NonFatal(e) =>
        sc.cancelJobGroup(group)
        val why = if (expired.get) s"deadline ${deadlineS}s exceeded (${e.getClass.getName})"
          else e.getClass.getName
        failures += name -> why
        None
    } finally {
      timer.cancel(false)
      sc.clearJobGroup()
    }
  }

  /** Records a wrong answer (or any other failed check) of op `name`. */
  def fail(name: String, why: String): Unit = failures += name -> why

  def close(): Unit = watchdog.shutdownNow()
}
