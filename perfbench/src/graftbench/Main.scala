package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Session and shared state of one benchmark run. */
final class Ctx(val work: String, val nproc: Int, val seconds: Int) {
  var spark: SparkSession = _
  var probe: Probe = _
  var threads = 0
  val spans = new Spans

  /** Starts `local[threads]` with the shuffle width of the full-size
    * session, so both scaling legs run the same plan. Returns seconds. */
  def start(threads: Int): Double = {
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    probe = Probe.install(spark.sparkContext)
    this.threads = threads
    (System.nanoTime() - t0) / 1e9
  }

  def stop(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def drainEvents(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}

/** `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --report <file>`
  *
  * Prints the run's descriptor, then as its last stdout line one JSON
  * object: correct, attempted, failed and metrics (the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`). */
object Main {
  private val setupRounds = 3
  private val scalingReps = 1
  private val coreSampleDocs = 2000

  private val bulkDocs = 8000L
  private val initialDocs = 1000L
  private val waveDocs = 1000L
  private val copies = Copies(nearShare = 0.08, exactShare = 0.02, sources = initialDocs)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    require(seconds >= 1, "--seconds must be at least 1")
    val nproc = Runtime.getRuntime.availableProcessors()
    val ctx = new Ctx(arg("work"), nproc, seconds)
    val w: Workload = workload match {
      case "bulk_extract" => new BulkExtract(ctx, seed, bulkDocs)
      case "incremental_ingest" => new IncrementalIngest(ctx, seed, initialDocs, waveDocs, copies)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = try run(ctx, w, seed, trace) finally ctx.stop()
    val report = out.report + ("workload" -> workload)
    java.nio.file.Files.write(java.nio.file.Paths.get(arg("report")), Json(report).getBytes("UTF-8"))
    println(Json(Map("descriptor" -> report("descriptor"))))
    println(Json(Map(
      "correct" -> (out.checks.failed == 0),
      "attempted" -> out.checks.attempted,
      "failed" -> out.checks.failed,
      "metrics" -> out.metrics.map { case (k, (v, unit)) => k -> Map("value" -> v, "unit" -> unit) })))
    System.out.flush()
    sys.exit(0)
  }

  final case class Out(checks: Checks, metrics: Map[String, (Double, String)], report: Map[String, Any])

  private val jvmStart = System.nanoTime()
  /** progress on stderr, with seconds since start */
  def phase(what: String): Unit = System.err.println(f"[perfbench] +${(System.nanoTime() - jvmStart) / 1e9}%.1fs $what")

  def tracedStep(i: Int): Boolean = i % 4 == 1 || i % 4 == 2

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def run(ctx: Ctx, w: Workload, seed: Long, trace: Boolean): Out = {
    // a traced run interleaves untraced and traced steps (U T T U, about
    // twice the steps, in whole patterns) so neither side gets the quieter
    // or the busier steps; their median walls give the tracing overhead
    val steps = if (trace) math.max(4, w.steps(ctx.seconds) * 2 / 4 * 4) else w.steps(ctx.seconds)
    HeapWatch.install()
    val sessionS = ctx.start(ctx.nproc)
    phase("session started")
    val rounds = (1 to setupRounds).map(r => timed(w.prepare(s"${ctx.work}/${w.name}/setup$r", steps)))
    val warmS = timed(w.warmUp())
    val setupS = sessionS + Stats.median(rounds) + warmS
    phase("set up")
    val checks = new Checks
    val m = measureWindow(ctx, w, checks, steps, trace)
    phase("window measured")
    val base = Map[String, Any](
      "seed" -> seed, "nproc" -> ctx.nproc, "seconds" -> ctx.seconds, "steps" -> steps,
      "local_levels" -> Seq(ctx.nproc, math.max(1, ctx.nproc / 4)),
      "shuffle_dir" -> s"${ctx.work}/spark-local",
      "session_start_s" -> sessionS, "setup_rounds_s" -> rounds, "warm_up_s" -> warmS,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6, "window_docs" -> m.docs,
      "op_samples" -> m.ops, "step_walls_s" -> m.stepWalls, "step_cpu_s" -> m.stepCpu,
      "step_codegen_compiles" -> m.stepCompiles)
    if (!trace) endToEnd(ctx, w, checks, m, setupS, base)
    else traced(ctx, w, checks, m, seed, base)
  }

  /** The timed window. `spanRanges(i)`: step i's spans in `ctx.spans.recs`. */
  final case class Measured(docs: Long, ops: Seq[Double], stepWalls: Seq[Double], stepCpu: Seq[Double],
      stepCompiles: Seq[Long], wallS: Double, cpuS: Double, jobs: Long, shuffleMb: Double,
      spanRanges: Seq[Range])

  private def measureWindow(ctx: Ctx, w: Workload, checks: Checks, steps: Int, alternate: Boolean): Measured = {
    ctx.drainEvents()
    val jobs0 = ctx.probe.jobs
    val shuffle0 = ctx.probe.shuffleBytes
    val first = ctx.spans.recs.length
    val cpu0 = Proc.cpuSeconds
    val t0 = System.nanoTime()
    val ranges = mutable.ArrayBuffer.empty[Range]
    val stepCpu = mutable.ArrayBuffer.empty[Double]
    val stepCompiles = mutable.ArrayBuffer.empty[Long]
    val walls = (0 until steps).map { i =>
      if (alternate) {
        // flip only once the previous step's events are delivered
        ctx.drainEvents()
        ctx.probe.tracing = Main.tracedStep(i)
      }
      val from = ctx.spans.recs.length
      val c0 = Proc.cpuSeconds
      val g0 = Proc.codegenCompiles
      val wall = timed(w.step(i, checks))
      stepCpu += Proc.cpuSeconds - c0
      stepCompiles += Proc.codegenCompiles - g0
      ranges += (from until ctx.spans.recs.length)
      wall
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = Proc.cpuSeconds - cpu0
    ctx.drainEvents()
    ctx.probe.tracing = false
    w.checkWindow(checks)
    val ops = ctx.spans.recs.drop(first).filter(w.isOp).map(_.seconds).toSeq
    Measured(w.stepDocs * steps, ops, walls, stepCpu.toSeq, stepCompiles.toSeq, wall, cpu, ctx.probe.jobs - jobs0,
      (ctx.probe.shuffleBytes - shuffle0) / 1e6, ranges.toSeq)
  }

  private def checkReport(checks: Checks): Seq[Map[String, Any]] =
    checks.results.map { case (op, ok, d) => Map[String, Any]("op" -> op, "ok" -> ok, "detail" -> d) }.toSeq

  private def endToEnd(ctx: Ctx, w: Workload, checks: Checks, m: Measured, setupS: Double,
      base: Map[String, Any]): Out = {
    val peakRssMb = Proc.peakRssMb
    val peakHeapMb = HeapWatch.peakMb
    val (compactS, readS) = w.maintain(checks)
    phase("maintenance measured")
    val metrics = Map(
      "setup_s" -> (setupS, "s"),
      "docs_per_s" -> (m.docs / m.wallS, "docs/s"),
      "wall_s" -> (m.wallS, "s"),
      "cpu_s" -> (m.cpuS, "s"),
      "op_p50_s" -> (Stats.median(m.ops), "s"),
      "compact_s" -> (Stats.median(compactS), "s"),
      "read_s" -> (Stats.median(readS), "s"),
      "spark_jobs" -> (m.jobs.toDouble, "count"),
      "shuffle_mb" -> (m.shuffleMb, "MB"),
      "peak_mem_mb" -> (peakHeapMb, "MB"))
    val descriptor = base ++ w.descriptor ++ Map(
      "op_count" -> m.ops.length, "peak_rss_mb" -> peakRssMb,
      "compact_samples_s" -> compactS, "read_samples_s" -> readS, "checks" -> checkReport(checks))
    System.err.println(s"[perfbench] ${w.name}: " +
      metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) => f"$k=$v%.4g $u" }.mkString(", "))
    Out(checks, metrics, Map("descriptor" -> descriptor))
  }

  /** The same operation on the same input at local[nproc] and, after a
    * restart in the same JVM (so the JIT stays warm), at local[nproc/4].
    * Returns the per-layer scaling metrics and the legs for the descriptor;
    * each leg's process CPU ÷ wall shows whether it borrowed idle cores. */
  private def scaling(ctx: Ctx, w: Workload, m: Measured): (Map[String, Double], Map[String, Any]) = {
    w.scalingSetup()
    def leg(): (Seq[Double], Double) = {
      val cpu0 = Proc.cpuSeconds
      val t0 = System.nanoTime()
      val runs = (0 until scalingReps).map(w.scalingOp)
      (runs, (Proc.cpuSeconds - cpu0) / ((System.nanoTime() - t0) / 1e9))
    }
    // the untraced window steps already ran the operation at local[nproc]
    val untraced = m.spanRanges.zipWithIndex.collect { case (r, i) if !tracedStep(i) => r }.flatten
      .map(ctx.spans.recs)
    val (latN, coresN) = w.scalingSpan match {
      case Some(name) =>
        val cpu = m.stepCpu.zipWithIndex.collect { case (c, i) if !tracedStep(i) => c }.sum
        val wall = m.stepWalls.zipWithIndex.collect { case (x, i) if !tracedStep(i) => x }.sum
        (untraced.filter(_.name == name).map(_.seconds), cpu / wall)
      case None => leg()
    }
    val small = math.max(1, ctx.nproc / 4)
    ctx.stop()
    ctx.start(small)
    phase(s"local[$small] started")
    val (latS, coresS) = leg()
    phase("scaling measured")
    val rateN = w.scalingDocs / Stats.median(latN)
    val rateS = w.scalingDocs / Stats.median(latS)
    (Map(
      "spark.scaling_eff" -> rateN / (ctx.nproc.toDouble / small * rateS),
      "spark.scaling_full_cores" -> coresN,
      "spark.scaling_small_cores" -> coresS),
      Map("threads" -> Seq(ctx.nproc, small), "docs_per_op" -> w.scalingDocs,
        "latency_s" -> Map(ctx.nproc.toString -> latN, small.toString -> latS),
        "cpu_per_wall" -> Map(ctx.nproc.toString -> coresN, small.toString -> coresS)))
  }

  private def traced(ctx: Ctx, w: Workload, checks: Checks, m: Measured, seed: Long,
      base: Map[String, Any]): Out = {
    val stats = w.outputStats()
    ctx.probe.tracing = true
    val maintainFrom = ctx.spans.recs.length
    w.maintain(checks)
    ctx.drainEvents()
    ctx.probe.tracing = false
    // the traced steps and the maintenance calls ran traced
    val tracedSteps = m.spanRanges.zipWithIndex.collect { case (r, i) if tracedStep(i) => r }.flatten
    val tspans = TracedSpan.attribute(
      (tracedSteps ++ (maintainFrom until ctx.spans.recs.length)).map(ctx.spans.recs), ctx.probe.jobRecords)
    val windowSpans = tspans.take(tracedSteps.length)
    val walls = m.stepWalls.zipWithIndex
    val overheadPct = (Stats.median(walls.collect { case (x, i) if tracedStep(i) => x }) /
      Stats.median(walls.collect { case (x, i) if !tracedStep(i) => x }) - 1.0) * 100.0
    val sparkLayer = Map(
      "spark.task_cpu_s" -> windowSpans.map(_.cpuS).sum,
      "spark.task_run_s" -> windowSpans.map(_.runS).sum,
      "spark.sched_delay_s" -> windowSpans.map(_.schedS).sum,
      "spark.gc_s" -> windowSpans.map(_.gcS).sum,
      "spark.shuffle_read_mb" -> windowSpans.map(_.shReadMb).sum,
      "spark.shuffle_write_mb" -> windowSpans.map(_.shWriteMb).sum,
      "spark.spill_mb" -> windowSpans.map(_.spillMb).sum,
      "spark.tasks" -> windowSpans.map(_.tasks.toDouble).sum,
      "spark.stages" -> windowSpans.map(_.stages.toDouble).sum,
      "spark.codegen_compiles" -> m.stepCompiles.zipWithIndex.collect { case (c, i) if tracedStep(i) => c.toDouble }.sum)
    val layer0 = w.layerMetrics(tspans)
    phase("traced maintenance measured")
    val core = CoreStages.measure(seed, coreSampleDocs, bulkDocs)
    phase("core stages measured")
    val (scalingLayer, scalingLegs) = scaling(ctx, w, m)
    val (tailPct, tail) = Stats.tail(m.ops)
    val layer = layer0 ++ stats ++ sparkLayer ++ scalingLayer ++ core ++ Map(
      "op_tail_s" -> tail,
      "trace_overhead_pct" -> overheadPct,
      "failed_ops" -> checks.failed.toDouble / checks.attempted)
    val metrics = layer.map { case (k, v) => k -> (v, PerLayer.unit(k)) }
    val report = SpanReport(tspans)
    System.err.println(report.text)
    val descriptor = base ++ w.descriptor ++ Map(
      "core_sample_docs" -> coreSampleDocs, "scaling" -> scalingLegs, "op_count" -> m.ops.length,
      "op_tail_percentile" -> tailPct, "checks" -> checkReport(checks))
    Out(checks, metrics, Map("descriptor" -> descriptor, "spans" -> report.rows, "jobs" -> report.jobs))
  }
}
