package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.DriverPar

/** `DriverPar.par2` keeps the failure surface of sequential code: it
  * never returns or throws while its pooled side is still running; a
  * failure of its calling side cancels the pooled side's jobs; and its
  * pooled side runs under the caller's current job group. */
class DriverParSpec extends SparkSpec {

  test("par2 waits for a before rethrowing b's failure") {
    val aDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      DriverPar.par2({ Thread.sleep(300); aDone.set(true) },
        throw new IllegalStateException("b"))
    }
    assert(e.getMessage == "b")
    assert(aDone.get, "par2 returned while a was still running")
  }

  test("par2 attaches a's failure to b's as suppressed") {
    // with the sequential kill-switch on, a's failure simply comes first
    assume(!sys.env.contains("SPARK_GRAFT_NO_PAR"))
    val e = intercept[IllegalStateException] {
      DriverPar.par2({ Thread.sleep(100); throw new ArithmeticException("a") },
        throw new IllegalStateException("b"))
    }
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("a"))
  }

  test("par2 propagates a's failure when b succeeds, and returns both otherwise") {
    val e = intercept[ArithmeticException] {
      DriverPar.par2(throw new ArithmeticException("a"), 2)
    }
    assert(e.getMessage == "a")
    assert(DriverPar.par2(1, "b") == ((1, "b")))
  }

  test("par2 cancels a's running Spark job when b fails, and rethrows b's failure promptly") {
    assume(!sys.env.contains("SPARK_GRAFT_NO_PAR"))
    val sc = spark.sparkContext
    @volatile var tags = Set.empty[String]
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      DriverPar.par2({
        tags = sc.getJobTags()
        sc.parallelize(1 to 2, 2).map { x => Thread.sleep(60000); x }.count()
      }, {
        eventually(timeout(30.seconds), interval(20.millis)) {
          assert(sc.statusTracker.getActiveJobIds().nonEmpty)
        }
        throw new IllegalStateException("b")
      })
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage == "b")
    // a's job sleeps 60 s per task; waiting for it would take that long
    assert(sec < 20, s"par2 took $sec s to rethrow b's failure")
    assert(tags.size == 1, s"a ran under job tags $tags")
    val st = sc.statusTracker
    val jobs = st.getJobIdsForTag(tags.head)
    assert(jobs.nonEmpty)
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert(sc.statusTracker.getActiveJobIds().isEmpty)
    }
    jobs.foreach { j =>
      assert(!st.getJobInfo(j).map(_.status).contains(
        org.apache.spark.JobExecutionStatus.RUNNING), s"job $j still running")
    }
  }

  test("par2 runs a's Spark jobs under the caller's current job group") {
    assume(!sys.env.contains("SPARK_GRAFT_NO_PAR"))
    val sc = spark.sparkContext
    val (g1, g2) = ("driverpar-g1", "driverpar-g2")
    try {
      // the first call creates (or reuses) a pool thread while g1 is set
      sc.setJobGroup(g1, "first call")
      DriverPar.par2((), ())
      // let that thread go idle, so the next task reuses it
      Thread.sleep(200)
      sc.setJobGroup(g2, "second call")
      DriverPar.par2(sc.parallelize(1 to 4, 1).count(), ())
    } finally sc.clearJobGroup()
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert(sc.statusTracker.getJobIdsForGroup(g2).nonEmpty,
        s"no $g2 job; $g1 jobs: ${sc.statusTracker.getJobIdsForGroup(g1).mkString(",")}")
    }
    assert(sc.statusTracker.getJobIdsForGroup(g1).isEmpty)
  }
}
