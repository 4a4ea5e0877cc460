package martbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods

import graft.{CalProbe, LocalSession, SparkEntry}
import graft.synth.Synth

/** One benchmark run in one JVM: set up, run the workload's closed loop
  * (one client thread) for the requested time, check every answer and
  * write the raw record (latencies, set-up times, failures, trace, host)
  * as JSON to `--out`. `run.py` reduces that record to the metrics.
  *
  *   --workload mart_build|mart_queries|ext_sweep --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE --scale F --testdata DIR */
object Main {

  final class SetupFailed(msg: String) extends RuntimeException(msg)

  /** What a workload hands back: the timed ops that passed their checks. */
  final class Loop {
    val latenciesMs = mutable.ArrayBuffer[Double]()
    val rows = mutable.ArrayBuffer[Long]()
    val traced = mutable.ArrayBuffer[Boolean]()
    /** The op's kind: its query template on mart_queries, else one kind. */
    val kinds = mutable.ArrayBuffer[String]()
    /** When the first timed op started (epoch ms): set-up ends here. */
    var timedFrom = 0L
    def add(ms: Double, n: Long, wasTraced: Boolean, kind: String): Unit = {
      latenciesMs += ms; rows += n; traced += wasTraced; kinds += kind
    }
    def measuredMs: Double = latenciesMs.sum
  }

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, scale: Double, testdata: String)

  /** Three passes of the 15 query templates: the 75th percentile the run
    * records then has 11 samples beyond it. */
  val MinQueries = 45
  /** The loop never runs past this, whatever the op counts, and no op's
    * deadline is longer than BuildDeadlineS, so even a run whose ops hang
    * ends within run.py's 170 s. */
  val LoopCapS = 90.0
  val SetupDeadlineS = 90.0
  val BuildDeadlineS = 60.0
  val QueryDeadlineS = 20.0

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("out"), kv.get("scale").fold(0.0)(_.toDouble), kv("testdata"))
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = LocalSession.fromEnv()
    val trace = new Trace(spark)
    val ops = new Ops(spark.sparkContext)
    val code =
      try {
        val loop = a.workload match {
          case "mart_build" => martBuild(spark, a, trace, ops)
          case "mart_queries" => martQueries(spark, a, trace, ops)
          case "ext_sweep" => extSweep(spark, a, trace, ops)
          case w => throw new SetupFailed(s"unknown workload '$w'")
        }
        val probeS = CalProbe.work(spark)
        val record = Map(
          "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
          "setup_s" -> (loop.timedFrom - jvmStart) / 1000.0,
          "latencies_ms" -> loop.latenciesMs.toSeq, "rows" -> loop.rows.toSeq, "traced" -> loop.traced.toSeq,
          "kinds" -> loop.kinds.toSeq,
          "attempted" -> ops.attempted,
          "failures" -> ops.failures.map { case (op, why) => Map("op" -> op, "error" -> why) }.toSeq,
          "peak_rss_mb" -> peakRssMb(),
          "host" -> Map(
            "cores" -> Runtime.getRuntime.availableProcessors,
            "master" -> spark.sparkContext.master,
            "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
            "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
            "calprobe_s" -> probeS),
          "trace_record" -> trace.dump)
        Files.write(Paths.get(a.out), JsonMethods.compact(Extraction.decompose(record)(DefaultFormats)).getBytes("UTF-8"))
        0
      } catch {
        case e: SetupFailed =>
          System.err.println(s"martbench: setup failed: ${e.getMessage}")
          3
      } finally {
        ops.close()
        spark.stop()
      }
    System.exit(code)
  }

  /** Runs one set-up step; a failure ends the run with a named diagnostic. */
  private def setupStep[T](ops: Ops, name: String)(body: => T): T =
    ops.run(name, SetupDeadlineS)(body).getOrElse {
      val (op, why) = ops.failures.last
      throw new SetupFailed(s"$op: $why")
    }

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e6, r)
  }

  private def checkDq(ops: Ops, name: String, violations: Map[String, Long]): Boolean = {
    val bad = violations.filter(_._2 != 0L)
    if (bad.nonEmpty) ops.fail(name, "dq violations: " + bad.toSeq.sorted.map { case (c, n) => s"$c=$n" }.mkString(","))
    bad.isEmpty
  }

  /** Set-up: one build of the default 1x world (the JIT warm-up, and the
    * world the twin check reads). Loop: builds of the seeded world at
    * `scale` x reference volume, at least one (two when traced, so one
    * traced and one untraced build give the tracing overhead; which of
    * the two comes first alternates with the seed). Every build's dq
    * suite must be clean and its mart digests equal to the first build's;
    * after the loop each 1x mart must equal its registered synth_* twin. */
  def martBuild(spark: SparkSession, a: Args, trace: Trace, ops: Ops): Loop = {
    val loop = new Loop
    val warm = new World(spark, s"${a.work}/warm", trace)
    if (!checkDq(ops, "setup build", setupStep(ops, "setup build")(warm.build(Synth.Config()))))
      throw new SetupFailed(ops.failures.last._2)
    val minBuilds = if (a.trace) 2 else 1
    val world = new World(spark, s"${a.work}/build", trace)
    val cfg = World.config(a.scale, a.seed)
    var first: Option[Map[String, Digest]] = None
    var snapshotRows = 0L
    loop.timedFrom = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var i = 0
    def wallS = (System.nanoTime() - t0) / 1e9
    while ((loop.measuredMs < a.seconds * 1000 || loop.latenciesMs.size < minBuilds) && wallS < LoopCapS) {
      i += 1
      val name = s"build#$i"
      val traced = a.trace && (i + a.seed) % 2 == 0
      if (traced) trace.attach()
      val r = ops.run(name, BuildDeadlineS)(timed(trace.span("build")(world.build(cfg))))
      trace.detach()
      r.foreach { case (ms, dq) =>
        if (checkDq(ops, name, dq)) {
          try {
            if (snapshotRows == 0L) snapshotRows = world.snapshotRows()
            // the first build's marts are the reference for the builds after
            // it; a run's only build skips the digests it would not compare
            val more = loop.measuredMs + ms < a.seconds * 1000 || loop.latenciesMs.size + 1 < minBuilds
            val digests = if (first.isDefined || more) Some(world.martDigests()) else None
            (first, digests) match {
              case (Some(f), Some(d)) if f != d =>
                ops.fail(name, "mart digests differ from the first build: " +
                  World.MartNames.filter(m => f(m) != d(m)).mkString(","))
              case _ =>
                first = first.orElse(digests)
                loop.add(ms, snapshotRows, traced, "build")
            }
          } catch { case NonFatal(e) => ops.fail(name, s"answer check: ${e.getClass.getName}") }
        }
      }
    }
    World.Twins.toSeq.sorted.foreach { case (mart, twin) =>
      val name = s"twin $mart"
      ops.run(name, BuildDeadlineS)(
        Digest.drain(warm.mart(mart), s"digest $mart") == Digest.drain(SparkEntry.queries(twin)(spark, ""), twin))
        .foreach(same => if (!same) ops.fail(name, s"differs from registered $twin"))
    }
    loop
  }

  /** Set-up: one load of the seeded world at `scale` x reference volume
    * (its staged tables are what the views read, its marts the expected
    * answers; traced runs trace it), then one untimed, checked run of each
    * unsliced query.
    * Loop: whole seeded passes over the view queries until both the time
    * and MinQueries are reached; traced runs trace every other query and
    * then run the LLM-operator sweep (see [[extSweep]]) for its layers. */
  def martQueries(spark: SparkSession, a: Args, trace: Trace, ops: Ops): Loop = {
    val loop = new Loop
    val world = new World(spark, s"${a.work}/queries", trace)
    val cfg = World.config(a.scale, a.seed)
    if (a.trace) trace.attach()
    setupStep(ops, "setup build")(trace.span("setup_build")(world.load(cfg)))
    trace.detach()
    val views = new Views(world)
    val domain = setupStep(ops, "setup domain")(Views.domain(world))
    val rng = new scala.util.Random(a.seed)
    val expected = mutable.Map[String, Digest]()
    var i = 0
    def query(q: Views.Query, traced: Boolean): Option[(Double, Long)] = {
      i += 1
      val name = s"q#$i ${q.key}"
      if (traced) trace.attach()
      val r = ops.run(name, QueryDeadlineS)(timed(trace.span("credit") {
        val d = Digest.drain(views.answer(q), name)
        trace.addRows(d.rows)
        d
      }))
      trace.detach()
      r.flatMap { case (ms, got) =>
        try {
          val want = expected.getOrElseUpdate(q.key, Digest.drain(views.expected(q), s"expected ${q.key}"))
          if (want == got) Some((ms, got.rows))
          else { ops.fail(name, s"answer $got differs from the mart slice $want"); None }
        } catch { case NonFatal(e) => ops.fail(name, s"answer check: ${e.getClass.getName}"); None }
      }
    }
    // each view's first run is cold: warm every view plan, untimed but checked
    Views.pass(domain, rng).filter(_.slice.isEmpty).foreach(query(_, traced = false))
    loop.timedFrom = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def wallS = (System.nanoTime() - t0) / 1e9
    var n = 0
    while ((loop.measuredMs < a.seconds * 1000 || loop.latenciesMs.size < MinQueries) && wallS < LoopCapS) {
      Views.pass(domain, rng).foreach { q =>
        n += 1
        val traced = a.trace && n % 2 == 1
        query(q, traced).foreach { case (ms, rows) => loop.add(ms, rows, traced, q.template) }
      }
    }
    // a traced run also gives the sweep families' per-layer figures: one
    // warm-up and one traced pass, after the loop and outside its ops
    if (a.trace) {
      val sweep = new SweepPasses(spark, a, trace, ops)
      sweep.warm()
      sweep.pass(traced = true)
    }
    loop
  }

  /** Passes over [[Sweep.Queries]] on the committed testdata tier, in an
    * order drawn from the seed. A pass returns (ms, answer rows), or None
    * when any of its queries failed or differed from its committed
    * expected answer. */
  private final class SweepPasses(spark: SparkSession, a: Args, trace: Trace, ops: Ops) {
    private val expectedFile = s"${a.testdata}/expected.txt"
    private val tier = s"${a.testdata}/sf0.01"
    if (!Files.isRegularFile(Paths.get(expectedFile)) || !Files.isDirectory(Paths.get(tier)))
      throw new SetupFailed(s"sweep input missing: $expectedFile and $tier are both needed")
    private val want = Sweep.expected(expectedFile)
    Sweep.Queries.map(_._2).filterNot(want.contains).foreach { q =>
      throw new SetupFailed(s"no expected answer for $q in $expectedFile")
    }
    private val rng = new scala.util.Random(a.seed)
    private var i = 0

    def pass(traced: Boolean): Option[(Double, Long)] = {
      i += 1
      if (traced) trace.attach()
      val results = trace.span("sweep") {
        rng.shuffle(Sweep.Queries).map { case (family, q) =>
          val name = s"pass#$i $q"
          val r = ops.run(name, QueryDeadlineS)(timed(trace.span(family) {
            val d = Digest.drain(SparkEntry.queries(q)(spark, tier), name)
            trace.addRows(d.rows)
            d
          }))
          // caches a query leaves behind must not serve the next pass
          spark.catalog.clearCache()
          r.flatMap { case (ms, got) =>
            if (got == want(q)) Some((ms, got.rows))
            else { ops.fail(name, s"answer $got differs from the expected ${want(q)}"); None }
          }
        }
      }
      trace.detach()
      if (results.forall(_.isDefined)) Some((results.flatten.map(_._1).sum, results.flatten.map(_._2).sum))
      else None
    }

    /** The first, cold pass: untimed, checked; a failure ends the run. */
    def warm(): Unit =
      if (pass(traced = false).isEmpty) throw new SetupFailed("sweep warm-up pass: " + ops.failures.last._2)
  }

  /** Set-up: the sweep's warm-up pass. Loop: whole passes until the time
    * is reached, at least one (two when traced, one traced and one
    * untraced, the first alternating with the seed). An op is one pass. */
  def extSweep(spark: SparkSession, a: Args, trace: Trace, ops: Ops): Loop = {
    val loop = new Loop
    val sweep = new SweepPasses(spark, a, trace, ops)
    sweep.warm()
    val minPasses = if (a.trace) 2 else 1
    loop.timedFrom = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def wallS = (System.nanoTime() - t0) / 1e9
    var n = 0
    while ((loop.measuredMs < a.seconds * 1000 || loop.latenciesMs.size < minPasses) && wallS < LoopCapS) {
      n += 1
      val traced = a.trace && (n + a.seed) % 2 == 0
      sweep.pass(traced).foreach { case (ms, rows) => loop.add(ms, rows, traced, "pass") }
    }
    loop
  }

  private def peakRssMb(): Option[Double] =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
}
