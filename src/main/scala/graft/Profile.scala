package graft

import scala.collection.mutable

/** Per-JOB wall-time breakdown for one or more registered queries — the
  * measurement companion to [[Explain]] (guide §1: find where the time
  * goes BEFORE touching the plan). A query function that trains state
  * (k-means, PQ codebooks, grids) issues many small driver-blocking
  * actions before the main query runs; this prints every Spark job the
  * query triggers with its wall time and call site, so "slow query" can
  * be split into "slow plan" vs "too many sequential driver round-trips".
  *
  * {{{
  *   sbt 'runMain graft.Profile ann_recall_ivfpq /root/testdata/sf0.1'
  *   sbt 'runMain graft.Profile curation_pipeline,clean_corpus'
  * }}}
  *
  * Each query runs TWICE (fresh fn call each time, as Bench does); both
  * runs are reported — run 1 carries codegen/first-touch costs, run 2 is
  * the steady state. A run drains the query's own physical plan
  * ([[LocalSession.runToFinalPlan]]), so every projected column is
  * computed: a `count()` would let Catalyst prune the columns it does
  * not need (in `near_dup_edit` the whole `dist` DP). Next to the rows
  * it prints the AQE-final plan's exchanges and reused exchanges. */
object Profile {

  private final class JobTimes extends org.apache.spark.scheduler.SparkListener {
    final case class Job(id: Int, var t0: Long = 0L, var t1: Long = 0L,
        var site: String = "", var nTasks: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.synchronized {
        val j = jobs.getOrElseUpdate(e.jobId, Job(e.jobId))
        j.t0 = e.time
        j.site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        j.nTasks = e.stageInfos.map(_.numTasks).sum
      }
    override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      jobs.synchronized { jobs.get(e.jobId).foreach(_.t1 = e.time) }
  }

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = LocalSession.fromEnv()
    spark.range(1000000).selectExpr("sum(id)").collect() // session warmup, as Bench
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      (1 to 2).foreach { run =>
        val listener = new JobTimes
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        val (n, finalPlan) = LocalSession.runToFinalPlan(fn(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        val planLines = finalPlan.toString.linesIterator.toSeq
        val reused = planLines.count(_.contains("ReusedExchange"))
        val exchanges = planLines.count(_.contains("Exchange ")) - reused
        org.apache.spark.sql.graft.ListenerDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        val js = listener.jobs.values.toSeq
        // a job with t1 == 0 never saw its end event (still running, or
        // the event was lost): including it would add a large NEGATIVE
        // duration, corrupting jobSum and inflating the reported gap —
        // the exact signal this tool measures (r20 advisor)
        val (ended, unended) = js.partition(_.t1 > 0L)
        val jobSum = ended.map(j => (j.t1 - j.t0) / 1e3).sum
        val unendedNote = if (unended.isEmpty) "" else s", ${unended.size} unended"
        println(f"== $name run $run: wall $wall%.3f s, rows $n, " +
          s"exchanges $exchanges (reused $reused), " +
          f"${js.size} jobs (sum ${jobSum}%.3f s, gap ${wall - jobSum}%.3f s$unendedNote)")
        js.foreach { j =>
          val dur = if (j.t1 > 0L) f"${(j.t1 - j.t0) / 1e3}%7.3f s" else "running "
          println(f"   job ${j.id}%4d  $dur  ${j.nTasks}%5d tasks  ${j.site}")
        }
        spark.catalog.clearCache(); System.gc()
      }
    }
    spark.stop()
  }
}
