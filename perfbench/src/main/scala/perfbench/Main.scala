package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.perfbench.Internals
import org.apache.spark.sql.SparkSession

import graft.{Engine, Graft}

/** The pipeline-service benchmark: one closed-loop client submitting a
  * workload's pipelines, pass after pass in seed-permuted order, to a local
  * engine as wide as the host.
  *
  * {{{
  * perfbench.Main --workload short --seed 1 --seconds 15 --trace 0
  *   --sf <sf dir> --work <scratch dir> --expected expected.tsv
  *   --t0-ns <epoch ns when the JVM was launched>
  * }}}
  *
  * The last line of standard output is the result as one JSON object. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, sfDir: String, work: Path, expected: Path, t0Ns: Long)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      trace == "1", need("sf"), Paths.get(need("work")),
      Paths.get(need("expected")), need("t0-ns").toLong)
  }

  /** The pipeline whose checked run ends set-up. */
  val Warmup = "q1_pricing_summary"

  def loadExpected(p: Path): Map[String, Fingerprint] =
    Files.readAllLines(p).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> Fingerprint.parse(f(1)) }
      .toMap

  private def epochNs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** One measured stretch of passes. */
  final class Segment {
    val samples = mutable.Buffer.empty[Sample]
    var wallNs = 0L
    var cpuNs = 0L
    // the same, over passes after the run's first (cold) pass
    private var warmOk = 0
    private var warmWallNs = 0L
    def add(s: Seq[Sample], wall: Long, cpu: Long, warm: Boolean): Unit = {
      samples ++= s; wallNs += wall; cpuNs += cpu
      if (warm) { warmOk += s.count(_.ok); warmWallNs += wall }
    }
    def perMin: Double = samples.count(_.ok) / (wallNs / 1e9) * 60
    def warmPerMin: Double = warmOk / (warmWallNs / 1e9) * 60
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads.byName(o.workload)
    require(o.seconds > 0, "--seconds must be positive")
    Files.createDirectories(o.work)
    val expected = loadExpected(o.expected)
    // the JVM temporary directory the launcher gives the run (see run.py)
    val scratch = new Host.ScratchSnapshot(o.work.resolve("tmp"),
      Warmup +: wl.pipelines)
    val noise = new Host.NoiseWindow
    val nproc = Runtime.getRuntime.availableProcessors

    val s0 = System.nanoTime()
    val spark = Engine.local(nproc, "perfbench")
    val sessionS = (System.nanoTime() - s0) / 1e9
    var exit = 1
    try {
      val w0 = System.nanoTime()
      val warm = Fingerprint.execute(
        Graft.plan(spark, Warmup, o.sfDir), "perfbench.warmup")
      val warmupS = (System.nanoTime() - w0) / 1e9
      val setupS = (epochNs - o.t0Ns) / 1e9
      println(f"setup: $setupS%.2f s (session $sessionS%.2f s, warm-up " +
        f"$warmupS%.2f s)")
      require(expected.get(Warmup).contains(warm),
        s"warm-up output fingerprint $warm does not match the expected set")

      val run = new Runner(spark, wl, o, expected)
      // The run's work is fixed by --seconds, not by the clock: a faster
      // program then runs the same passes in less time, rather than more
      // (and warmer) passes, so two commits are compared on equal work.
      val passes = math.max(1, math.round(o.seconds / wl.nominalPassS).toInt)
      val untraced = new Segment
      val traced = new Segment
      // A traced run alternates traced and untraced passes, traced first:
      // the traced passes then see the same cold start and warmth as an
      // untraced run, and the warm passes of each kind give the overhead.
      (1 to passes).foreach { _ =>
        if (o.trace) run.pass(traced, Some(run.probes))
        run.pass(untraced, None)
      }
      val leakBytes = scratch.createdBytes
      val host = noise.close()

      val seg = if (o.trace) traced else untraced
      val failures = seg.samples.filterNot(_.ok)
      failures.groupBy(_.pipeline).foreach { case (n, fs) =>
        println(s"FAILED $n x${fs.size}: ${fs.head.error}") }
      val metrics: Seq[(String, Double, String)] =
        if (!o.trace) endToEnd(untraced, setupS)
        else run.perLayer(traced, untraced, sessionS, warmupS,
          leakBytes / 1e6)
      println(f"host: nproc=${host.nproc} steal=${host.stealFrac}%.4f " +
        f"iowait=${host.iowaitFrac}%.4f load=${host.loadStart}%.2f->" +
        f"${host.loadEnd}%.2f cpu/wall=${host.cpuPerWall}%.2f " +
        f"scratch_leak=${leakBytes / 1e6}%.1fMB")
      metrics.foreach { case (k, v, u) => println(f"$k%-28s $v%.6g $u") }
      val json = metrics.map { case (k, v, u) =>
        s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString("{", ", ", "}")
      println(s"""{"correct": ${failures.isEmpty}, "attempted": """ +
        s"""${seg.samples.size}, "failed": ${failures.size}, "metrics": $json}""")
      exit = 0
    } finally {
      spark.stop()
      scratch.deleteCreated()
    }
    System.out.flush()
    sys.exit(exit)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def endToEnd(seg: Segment, setupS: Double): Seq[(String, Double, String)] = {
    val lat = seg.samples.map(_.latencyS).toSeq
    val n = seg.samples.size
    val tail = Stats.tail(lat)
    tail match {
      case Some((p, _)) =>
        println(s"latency_tail_s is p$p over $n samples")
      case None =>
        println(s"latency_tail_s: $n samples is too few for a percentile " +
          "with 10 beyond it; reporting the maximum")
    }
    Seq(
      ("setup_s", setupS, "s"),
      ("pipelines_per_min", seg.perMin, "1/min"),
      ("latency_p50_s", Stats.median(lat), "s"),
      ("latency_tail_s", tail.map(_._2).getOrElse(lat.max), "s"),
      ("cpu_s_per_pipeline", seg.cpuNs / 1e9 / n, "s"),
      ("peak_rss_mb", Host.peakRssMb, "MB"),
      ("ok_frac", seg.samples.count(_.ok).toDouble / n, "fraction"))
  }
}

/** Runs passes and, for traced passes, owns the probes. */
final class Runner(spark: SparkSession, wl: Workload, o: Main.Opts,
    expected: Map[String, Fingerprint]) {
  val tracer = new Tracer
  val running = new AtomicInteger(0)
  val probes = new Probes(tracer, running)
  private val ctxU = new Ctx(spark, o.sfDir, o.work, expected, None, running)
  private val ctxT = new Ctx(spark, o.sfDir, o.work, expected, Some(tracer),
    running)
  private var passes = 0
  private var codegen = 0L

  def pass(seg: Main.Segment, trace: Option[Probes]): Unit = {
    passes += 1
    // The first pass runs in list order, so the cold start (JIT, code
    // generation) falls on the same pipelines in every run; the seed
    // permutes each later pass.
    val order =
      if (passes == 1) wl.pipelines
      else new Random(o.seed * 1000003L + passes).shuffle(wl.pipelines)
    trace.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p.queryListener)
      spark.streams.addListener(p.streamListener)
    }
    val c0 = Internals.codegenCompiles
    val cpu0 = Host.processCpuNs
    val t0 = System.nanoTime()
    val samples = wl.pass(if (trace.isDefined) ctxT else ctxU, order)
    val wallNs = System.nanoTime() - t0
    seg.add(samples, wallNs, Host.processCpuNs - cpu0, warm = passes > 1)
    println(f"pass $passes (${if (trace.isDefined) "traced" else "untraced"}): " +
      f"${samples.size} pipelines in ${wallNs / 1e9}%.2f s")
    samples.foreach(s => System.err.println(
      f"[perfbench] ${s.pipeline}%-28s ${s.latencyS}%7.3f s cpu ${s.cpuS}%7.3f s"))
    trace.foreach { p =>
      Internals.drainListenerBus(spark.sparkContext)
      codegen += Internals.codegenCompiles - c0
      spark.sparkContext.removeSparkListener(p)
      spark.listenerManager.unregister(p.queryListener)
      spark.streams.removeListener(p.streamListener)
    }
  }

  def perLayer(traced: Main.Segment, untraced: Main.Segment, sessionS: Double,
      warmupS: Double, leakMb: Double)
      : Seq[(String, Double, String)] = {
    val spans = Trace.nest(tracer.spans)
    Trace.write(o.work.resolve(s"trace-${wl.name}-${o.seed}.tsv"), spans)
    val n = traced.samples.size.toDouble
    val self = Trace.selfByName(spans).withDefaultValue(0.0)
    val total = spans.groupBy(_.name).map { case (k, ss) =>
      k -> ss.map(_.durationNs).sum / 1e9 }.withDefaultValue(0.0)
    println("self time by span, s: " + self.toSeq.sortBy(_._1)
      .map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    val jobsOf = spans.filter(_.name == Trace.Job).groupBy(_.pipeline)
    val gapS = spans.filter(_.name == "pipeline").map { p =>
      Trace.selfNs(p, jobsOf.getOrElse(p.pipeline, Nil)) }.sum / 1e9
    def per(key: String, scale: Double = 1.0) = probes.get(key) * scale / n
    val persists = probes.persists
    val reads = probes.get("cache.cached_reads")
    Seq(
      ("engine.session_s", sessionS, "s"),
      ("engine.warmup_s", warmupS, "s"),
      ("control.submit_s", self("control.submit") / n, "s/pipeline"),
      ("control.status_bad", traced.samples.count(_.error.startsWith("status"))
        .toDouble, "count"),
      ("catalyst.analysis_s", per("catalyst.analysis_ms", 1e-3), "s/pipeline"),
      ("catalyst.optimization_s", per("catalyst.optimization_ms", 1e-3),
        "s/pipeline"),
      ("catalyst.planning_s", per("catalyst.planning_ms", 1e-3), "s/pipeline"),
      ("codegen.compiles", codegen / n, "count/pipeline"),
      ("scheduler.jobs", per("scheduler.jobs"), "count/pipeline"),
      ("scheduler.stages", per("scheduler.stages"), "count/pipeline"),
      ("scheduler.tasks", per("scheduler.tasks"), "count/pipeline"),
      ("scheduler.task_deser_s", per("scheduler.task_deser_ms", 1e-3),
        "s/pipeline"),
      ("scheduler.delay_s", per("scheduler.delay_ms", 1e-3), "s/pipeline"),
      ("scheduler.driver_gap_s", gapS / n, "s/pipeline"),
      ("scheduler.task_failures", probes.get("scheduler.task_failures"),
        "count"),
      ("exec.task_run_s", per("exec.task_run_ms", 1e-3), "s/pipeline"),
      ("exec.task_cpu_s", per("exec.task_cpu_ns", 1e-9), "s/pipeline"),
      ("exec.gc_s", per("exec.gc_ms", 1e-3), "s/pipeline"),
      ("exec.spill_mb", per("exec.spill_bytes", 1e-6), "MB/pipeline"),
      ("shuffle.write_mb", per("shuffle.write_bytes", 1e-6), "MB/pipeline"),
      ("shuffle.read_mb", per("shuffle.read_bytes", 1e-6), "MB/pipeline"),
      ("shuffle.fetch_wait_s", per("shuffle.fetch_wait_ms", 1e-3),
        "s/pipeline"),
      ("cache.persists", persists / n, "count/pipeline"),
      ("cache.cached_reads", reads / n, "count/pipeline"),
      ("cache.reads_per_persist", if (persists == 0) 0.0 else reads / persists,
        "ratio"),
      ("cache.storage_mb", probes.get("cache.peak_bytes") / 1e6, "MB"),
      ("cache.disk_memos", ctxT.diskMemos / n, "count/pipeline"),
      ("io.input_mb", per("io.input_bytes", 1e-6), "MB/pipeline"),
      ("io.output_mb", per("io.output_bytes", 1e-6), "MB/pipeline"),
      ("io.output_files", ctxT.outputFiles / n, "count/pipeline"),
      ("io.write_s", (total("control.submit") - self("control.submit")) / n,
        "s/pipeline"),
      ("io.list_s", total("io.list") / n, "s/pipeline"),
      ("io.readback_s", total("io.readback") / n, "s/pipeline"),
      ("io.scratch_leak_mb", leakMb, "MB"),
      ("streaming.batches", per("streaming.batches"), "count/pipeline"),
      ("streaming.trigger_s", per("streaming.trigger_ms", 1e-3), "s/pipeline"),
      ("streaming.add_batch_s", per("streaming.add_batch_ms", 1e-3),
        "s/pipeline"),
      ("streaming.wal_commit_s", per("streaming.wal_commit_ms", 1e-3),
        "s/pipeline"),
      ("streaming.planning_s", per("streaming.planning_ms", 1e-3),
        "s/pipeline"),
      ("streaming.state_rows", probes.stateRows / n, "rows/pipeline"),
      ("client.fn_self_s", self("pipeline.fn") / n, "s/pipeline"),
      ("client.sink_self_s", self("sink") / n, "s/pipeline"),
      ("trace.overhead_frac", 1 - traced.warmPerMin / untraced.warmPerMin,
        "fraction"))
  }
}
