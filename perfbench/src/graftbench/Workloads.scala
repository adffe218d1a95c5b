package graftbench

import graft.functions.Dedup
import graft.spark.{ExtractJob, MetaParquet}
import graft.streaming.StreamingExtract
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Output checks. Each entry is one operation and whether its output was
  * right; `failed_ops` = wrong ÷ all. */
final class Checks {
  val results = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  def apply(op: String, ok: Boolean, detail: => String = ""): Unit =
    results += ((op, ok, if (ok) "" else detail))
  def attempted: Int = results.length
  def failed: Int = results.count(!_._2)
}

/** One workload. A set-up round writes fresh inputs under `dir`; the
  * warm-up runs the first operations on the last round's inputs; the
  * window is a fixed number of steps over the state they leave. Every
  * public call into graft runs inside a span. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** window steps: about `seconds` of work at the time the benchmark was
    * written, on 4 vCPUs, and never fewer than the statistics need */
  def steps(seconds: Int): Int
  /** one set-up round, with inputs for `steps` window steps */
  def prepare(dir: String, steps: Int): Unit
  /** the first operations on the last round's inputs: the first pays the
    * cold JIT, the rest bring the window near the steady state */
  def warmUp(): Unit
  def step(i: Int, checks: Checks): Unit
  def stepDocs: Long
  /** spans whose latencies are the operation samples */
  def isOp(s: SpanRec): Boolean
  /** checks of the window's output that would otherwise run inside it */
  def checkWindow(checks: Checks): Unit = ()
  /** compaction and reader views after the window, each on
    * `maintenanceReps` identical committed states: (compact samples, read
    * samples) */
  def maintain(checks: Checks): (Seq[Double], Seq[Double])
  /** scaling: the span name whose window samples are the local[nproc]
    * leg, or None when the operation differs from the window's */
  def scalingSpan: Option[String]
  /** called once after `maintain`, before the first scaling operation */
  def scalingSetup(): Unit = ()
  def scalingDocs: Long
  /** one run of the scaling operation on the current session; returns seconds */
  def scalingOp(rep: Int): Double
  def descriptor: Map[String, Any]
  /** pipeline- and job-layer statistics of the window's output, read
    * before maintenance */
  def outputStats(): Map[String, Double]
  def layerMetrics(traced: Seq[TracedSpan]): Map[String, Double]

  protected def spark: SparkSession = ctx.spark
  protected def spans: Spans = ctx.spans
  protected def fit(seconds: Int, estimateS: Double, minSteps: Int): Int =
    math.max(minSteps, math.round(seconds / estimateS).toInt)
  protected val maintenanceReps = 5
  /** untimed compactions (with the reader views) before the timed ones */
  protected val warmCompactions = 2

  /** compaction and the reader views on `out`, untimed. Maintenance runs
    * these first: the first compactions after the window ran 20-40% slower
    * than the ones after them, even when the warm-up had compacted. */
  protected def warmMaintenance(out: String): Unit = {
    ExtractJob.compact(spark, out)
    ExtractJob.readExtracted(spark, out).count()
    ExtractJob.readLineage(spark, out).agg(sum("doc_count")).first()
  }
}

object Layers {
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Every workload-specific per-layer metric; 0 for a layer the workload
    * does not run. */
  val zero: Map[String, Double] = Seq(
    "pipeline.hot_host_sample_s", "pipeline.exchange_shuffle_mb", "pipeline.partition_skew",
    "pipeline.salted_hosts",
    "job.jobs_per_run", "job.driver_s_per_run", "job.lineage_s", "job.meta_read_ms", "job.compact_jobs",
    "streaming.drain_p50_s", "streaming.jobs_per_drain", "streaming.drain_driver_s",
    "dedup.candidate_pairs", "dedup.pairs_out", "dedup.pairs_per_candidate", "dedup.verify_cpu_s",
    "dedup.band_shuffle_mb", "dedup.index_write_s", "dedup.probe_s").map(_ -> 0.0).toMap

  /** Pipeline- and job-layer metrics of `ExtractJob.run` spans. A run's
    * jobs, in submission order, are the input listing, the hot-host sample
    * (call sites in ExtractPipeline), the extract+write job with the
    * host⊕salt exchange, then the lineage re-read and write: lineage is
    * every job after the one that ran the kernel (the most task CPU). */
  def runMetrics(traced: Seq[TracedSpan]): Map[String, Double] = {
    val runs = traced.filter(_.span.name == "ExtractJob.run")
    def lineageS(r: TracedSpan): Double =
      if (r.jobs.isEmpty) 0.0
      else {
        val kernel = r.jobs.maxBy(_.cpuNs)
        r.jobs.filter(j => j.submitMs > kernel.submitMs && !j.callSite.contains("ExtractPipeline"))
          .map(_.wallMs).sum / 1e3
      }
    Map(
      "pipeline.hot_host_sample_s" -> medianOr0(runs.map(_.jobWallS("ExtractPipeline"))),
      "pipeline.exchange_shuffle_mb" -> medianOr0(runs.map(r =>
        if (r.jobs.isEmpty) 0.0 else r.jobs.map(_.shWriteB).max / 1e6)),
      "job.jobs_per_run" -> medianOr0(runs.map(_.jobs.length.toDouble)),
      "job.driver_s_per_run" -> medianOr0(runs.map(_.selfS)),
      "job.lineage_s" -> medianOr0(runs.map(lineageS)),
      "job.compact_jobs" -> medianOr0(traced.filter(_.span.name == "ExtractJob.compact").map(_.jobs.length.toDouble)))
  }

  /** partition_skew, salted_hosts and meta_read_ms of an outDir's committed
    * runs, through the public reader views. */
  def outputStats(spark: SparkSession, outDir: String): Map[String, Double] = {
    val counts = ExtractJob.readLineage(spark, outDir).select("doc_count").collect().map(_.getLong(0).toDouble)
    val salted = ExtractJob.readHotHosts(spark, outDir).filter(col("salted"))
      .select("host").distinct().count()
    val conf = spark.sparkContext.hadoopConfiguration
    val metaMs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      MetaParquet.readCheckpoint(s"$outDir/_checkpoint", conf)
      (System.nanoTime() - t0) / 1e6
    }
    Map(
      "pipeline.partition_skew" -> (if (counts.isEmpty) 0.0 else counts.max / Stats.median(counts.toSeq)),
      "pipeline.salted_hosts" -> salted.toDouble,
      "job.meta_read_ms" -> Stats.median(metaMs))
  }

  /** Order-independent digest of (url, failure, text) rows plus the row count. */
  def digest(df: DataFrame): (BigDecimal, Long) = {
    val r = df.select(xxhash64(col("url"), col("failure"), col("text")).cast("decimal(38,0)").as("h"))
      .agg(coalesce(sum("h"), lit(BigDecimal(0))), count(lit(1))).first()
    (BigDecimal(r.getDecimal(0)), r.getLong(1))
  }
}

/** One fresh `ExtractJob.run` over a pre-materialized page table per step. */
final class BulkExtract(ctx: Ctx, seed: Long, docs: Long) extends Workload(ctx) {
  val name = "bulk_extract"
  private var dir: String = _
  private var mix: Map[String, Long] = Map.empty
  private var lastOut: String = _
  private val outs = mutable.ArrayBuffer.empty[String]

  private def pagesDir = s"$dir/pages"
  private def pages: DataFrame = spark.read.parquet(pagesDir)

  def steps(seconds: Int): Int = fit(seconds, 1.0, maintenanceReps)

  def prepare(dir: String, steps: Int): Unit = {
    this.dir = dir
    mix = Inputs.writePages(spark, seed, 0L, docs, ctx.nproc, pagesDir)
  }

  def warmUp(): Unit = (1 to 5).foreach { i =>
    val r = ExtractJob.run(spark, pages, s"$dir/warm$i")
    require(r.newDocs == docs, s"warm-up run committed ${r.newDocs} of $docs docs")
  }

  def step(i: Int, checks: Checks): Unit = {
    lastOut = s"$dir/out$i"
    outs += lastOut
    val r = spans("job", "ExtractJob.run")(ExtractJob.run(spark, pages, lastOut))
    checks("ExtractJob.run", r.newDocs == docs, s"run $i committed ${r.newDocs} of $docs docs")
  }
  def stepDocs: Long = docs
  def isOp(s: SpanRec): Boolean = s.name == "ExtractJob.run"

  /** the byte contract on the last run, against the generator's answer key */
  override def checkWindow(checks: Checks): Unit = {
    val session = spark
    import session.implicits._
    val s = seed
    val expected = Layers.digest(session.range(0L, docs, 1L, ctx.nproc).map { i =>
      val f = graft.fixtures.FixtureGen.fixtureAt(s, i)
      (f.url, f.expected.failure, f.expected.text)
    }.toDF("url", "failure", "text"))
    val got = Layers.digest(ExtractJob.readExtracted(spark, lastOut))
    checks("ExtractJob.run:bytes", got == expected, s"digest $got != expected $expected")
  }

  /** compacts the outDirs of the last window runs, after the outDirs of
    * the first warm-up runs */
  def maintain(checks: Checks): (Seq[Double], Seq[Double]) = {
    (1 to warmCompactions).foreach(i => warmMaintenance(s"$dir/warm$i"))
    outs.toSeq.takeRight(maintenanceReps).map(maintainOne(checks)).unzip
  }

  private def maintainOne(checks: Checks)(out: String): (Double, Double) = {
    spans("job", "ExtractJob.compact")(ExtractJob.compact(spark, out))
    val compactS = spans.last.seconds
    val (n, lineageDocs) = spans("job", "ExtractJob.read") {
      (ExtractJob.readExtracted(spark, out).count(),
        ExtractJob.readLineage(spark, out).agg(sum("doc_count")).first().getLong(0))
    }
    checks("ExtractJob.compact", lineageDocs == docs, s"compacted lineage counts $lineageDocs of $docs docs")
    checks("ExtractJob.read", n == docs, s"reader view saw $n of $docs docs")
    (compactS, spans.last.seconds)
  }

  def scalingSpan: Option[String] = Some("ExtractJob.run")
  def scalingDocs: Long = docs
  def scalingOp(rep: Int): Double = {
    val r = spans("job", "ExtractJob.run")(ExtractJob.run(spark, pages, s"$dir/scale_${ctx.threads}_$rep"))
    require(r.newDocs == docs, s"scaling run committed ${r.newDocs} of $docs docs")
    spans.last.seconds
  }

  def descriptor: Map[String, Any] = Map(
    "docs" -> docs, "page_mix" -> mix, "input_bytes" -> Dirs.dataBytes(pagesDir),
    "hot_host_share" -> mix.getOrElse("hot_host", 0L).toDouble / docs)

  def outputStats(): Map[String, Double] = Layers.outputStats(spark, lastOut)
  def layerMetrics(traced: Seq[TracedSpan]): Map[String, Double] = Layers.zero ++ Layers.runMetrics(traced)
}

/** Waves of new pages land in the source table, with injected near and
  * exact copies of initial-table pages. Each step lands one wave, then
  * runs a resuming `ExtractJob.run` over the whole table, a streaming drain
  * of the same table into a second outDir, and the incremental near-dup
  * loop over the run's `ok` texts: probe the persisted MinHash index
  * against the committed corpus, then append the wave to the index. */
final class IncrementalIngest(ctx: Ctx, seed: Long, initialDocs: Long, waveDocs: Long, copies: Copies)
    extends Workload(ctx) {
  val name = "incremental_ingest"
  private val threshold = 0.6
  private val shingleK = 5
  private val table = "bench_minhash_index"
  /** untimed full steps before the window: with fewer, the window's first
    * steps still ran slower while the JIT compiled their calls */
  private val warmSteps = 2
  private var dir: String = _
  /** staged waves: warm-up, window and scaling */
  private var waves = 0
  private var landed = 0L
  private var committed = 0L
  private var mix: Map[String, Long] = Map.empty
  private var waveMix: Map[String, Long] = Map.empty
  /** (first page index, probe pairs) of every window wave, checked after the window */
  private val probes = mutable.ArrayBuffer.empty[(Long, Set[(String, String)])]

  private def src = s"$dir/src"
  private def batchOut = s"$dir/batch"
  private def streamOut = s"$dir/stream"
  private def staging = s"$dir/staging"
  private def pages: DataFrame = spark.read.parquet(src)
  private def okTexts(df: DataFrame): DataFrame = df.filter(col("failure") === "ok").select("url", "text")

  def steps(seconds: Int): Int = fit(seconds, 4.0, 3)

  def prepare(dir: String, steps: Int): Unit = {
    this.dir = dir
    waves = warmSteps + steps + 1
    mix = Inputs.writePages(spark, seed, 0L, initialDocs, 2, src)
    // the warm-up's and the window's waves and one for the scaling
    // operation, one file each:
    // range slices are contiguous, so file k holds wave k
    waveMix = Inputs.writePages(spark, seed, initialDocs, initialDocs + waves * waveDocs, waves, staging,
      Some(copies))
    landed = initialDocs
  }

  /** Commits the initial table in both outDirs and indexes its `ok` texts,
    * then runs `warmSteps` steps. Their probes are checked with the
    * window's. */
  def warmUp(): Unit = {
    val r = ExtractJob.run(spark, pages, batchOut)
    require(r.newDocs == initialDocs, s"initial run committed ${r.newDocs} of $initialDocs docs")
    drain()
    Dedup.writeMinhashIndex(okTexts(ExtractJob.readExtracted(spark, batchOut)), "url", "text", table)
    val warm = new Checks
    (1 to warmSteps).foreach(i => step(-i, warm))
    require(warm.failed == 0, s"warm-up steps failed: ${warm.results.filterNot(_._2).map(_._3)}")
  }

  /** Moves the next staged wave's file into the source table (an atomic
    * rename). Part files are numbered by range slice, so they land in
    * wave order. */
  private def landNext(): Unit = {
    val next = new java.io.File(staging).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).minBy(_.getName)
    java.nio.file.Files.move(next.toPath, new java.io.File(src, next.getName).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    landed += waveDocs
  }

  private def drain(): Unit =
    StreamingExtract.runWithLineage(spark, src, streamOut, s"$dir/stream_ckpt").awaitTermination()

  def step(i: Int, checks: Checks): Unit = {
    val first = landed
    landNext()
    val r = spans("job", "ExtractJob.run")(ExtractJob.run(spark, pages, batchOut))
    checks("ExtractJob.run", r.newDocs == waveDocs, s"wave from page $first committed ${r.newDocs} of $waveDocs docs")
    spans("streaming", "StreamingExtract.drain")(drain())
    // the run's own committed rows, in ExtractJob's documented layout
    val fresh = okTexts(spark.read.parquet(s"$batchOut/extracted/run_id=${r.runId}"))
    val pairs = spans("dedup", "Dedup.probeMinhashIndex") {
      Dedup.probeMinhashIndex(fresh, "url", "text", table, okTexts(ExtractJob.readExtracted(spark, batchOut)))
        .select("new_id", "old_id").collect().map(p => (p.getString(0), p.getString(1))).toSet
    }
    spans("dedup", "Dedup.appendToMinhashIndex")(Dedup.appendToMinhashIndex(fresh, "url", "text", table))
    probes += ((first, pairs))
  }

  def stepDocs: Long = waveDocs
  def isOp(s: SpanRec): Boolean = s.name == "ExtractJob.run"

  private def taxonomy(out: String): Map[String, Long] =
    ExtractJob.readExtracted(spark, out).groupBy("failure").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  override def checkWindow(checks: Checks): Unit = {
    val view = ExtractJob.readExtracted(spark, batchOut)
    committed = view.count()
    val distinctUrls = view.select("url").distinct().count()
    val lineageDocs = ExtractJob.readLineage(spark, batchOut).agg(sum("doc_count")).first().getLong(0)
    checks("ExtractJob.run:committed", committed == landed, s"committed $committed of $landed landed docs")
    checks("ExtractJob.run:distinct", distinctUrls == committed, s"$distinctUrls distinct urls in $committed docs")
    checks("ExtractJob.run:lineage", lineageDocs == committed, s"lineage counts $lineageDocs of $committed docs")
    val batchTax = taxonomy(batchOut)
    val streamTax = taxonomy(streamOut)
    checks("StreamingExtract.drain", streamTax == batchTax, s"stream taxonomy $streamTax != batch $batchTax")
    // near-dup: every injected copy whose committed text recomputes at or
    // above the threshold against its source is reported by its wave's
    // probe, and every reported pair recomputes at or above it
    val injected = probes.map { case (first, _) =>
      (first until first + waveDocs).flatMap(i => copies.planAt(seed, i).map { case (s, _) =>
        val source = graft.fixtures.FixtureGen.fixtureAt(seed, s).url
        (copies.copyUrl(source, i), source)
      })
    }
    val urls = (injected.flatten.flatMap(p => Seq(p._1, p._2)) ++
      probes.flatMap(_._2.flatMap(p => Seq(p._1, p._2)))).distinct.toSeq
    val texts = view.filter(col("url").isin(urls: _*)).select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    def jaccard(a: String, b: String): Double = Dedup.jaccardKernel(texts(a), texts(b), shingleK)
    probes.zip(injected).foreach { case ((first, pairs), copied) =>
      val missed = copied.filter { case (c, s) => jaccard(c, s) >= threshold && !pairs.contains((c, s)) }
      val wrong = pairs.filter { case (n, o) => jaccard(n, o) < threshold }
      checks("Dedup.probeMinhashIndex", missed.isEmpty && wrong.isEmpty,
        s"wave from page $first: missed injected ${missed.take(3)}, below threshold ${wrong.take(3)}")
    }
  }

  /** compacts copies of the batch outDir, untimed ones first; the scaling
    * legs start from the first timed one */
  def maintain(checks: Checks): (Seq[Double], Seq[Double]) = {
    (1 to warmCompactions).foreach { k =>
      val out = s"$dir/warm_compacted$k"
      Dirs.copy(batchOut, out)
      warmMaintenance(out)
    }
    (1 to maintenanceReps).map(maintainOne(checks)).unzip
  }

  private def maintainOne(checks: Checks)(k: Int): (Double, Double) = {
    val out = s"$dir/compacted$k"
    Dirs.copy(batchOut, out)
    spans("job", "ExtractJob.compact")(ExtractJob.compact(spark, out))
    val compactS = spans.last.seconds
    val n = spans("job", "ExtractJob.read") {
      val n = ExtractJob.readExtracted(spark, out).count()
      ExtractJob.readLineage(spark, out).agg(sum("doc_count")).first()
      n
    }
    checks("ExtractJob.compact", n == committed, s"compaction kept $n of $committed docs")
    (compactS, spans.last.seconds)
  }

  /** A resuming run that commits the extra staged wave, on a copy of the
    * compacted outDir so that every leg starts from the same state. */
  def scalingSpan: Option[String] = None
  override def scalingSetup(): Unit = landNext()
  def scalingDocs: Long = waveDocs
  def scalingOp(rep: Int): Double = {
    val out = s"$dir/scale_${ctx.threads}_$rep"
    Dirs.copy(s"$dir/compacted1", out)
    val r = spans("job", "ExtractJob.run")(ExtractJob.run(spark, pages, out))
    require(r.newDocs == waveDocs, s"scaling run committed ${r.newDocs} of $waveDocs docs")
    spans.last.seconds
  }

  def descriptor: Map[String, Any] = Map(
    "initial_docs" -> initialDocs, "wave_docs" -> waveDocs, "warm_up_waves" -> warmSteps,
    "staged_waves" -> waves,
    "landed_docs" -> landed, "page_mix_initial" -> mix,
    "page_mix_waves" -> waveMix, "near_copy_share" -> copies.nearShare,
    "exact_copy_share" -> copies.exactShare, "neardup_threshold" -> threshold,
    "input_bytes" -> Dirs.dataBytes(src),
    "hot_host_share" -> mix.getOrElse("hot_host", 0L).toDouble / initialDocs,
    "probe_pairs_per_wave" -> probes.map(_._2.size))

  def outputStats(): Map[String, Double] = Layers.outputStats(spark, batchOut)

  def layerMetrics(traced: Seq[TracedSpan]): Map[String, Double] = {
    val drains = traced.filter(_.span.name == "StreamingExtract.drain")
    val probeSpans = traced.filter(_.span.name == "Dedup.probeMinhashIndex")
    // the verify stage is the final stage of the probe's action: it reads
    // the candidate pairs from the verify-width exchange
    val verify = probeSpans.flatMap(_.jobs.sortBy(_.submitMs).lastOption)
    val candidates = Layers.medianOr0(verify.map(_.lastStageShReadRecs.toDouble))
    val pairsOut = Layers.medianOr0(probes.map(_._2.size.toDouble).toSeq)
    Layers.zero ++ Layers.runMetrics(traced) ++ Map(
      "streaming.drain_p50_s" -> Layers.medianOr0(drains.map(_.span.seconds)),
      "streaming.jobs_per_drain" -> Layers.medianOr0(drains.map(_.jobs.length.toDouble)),
      "streaming.drain_driver_s" -> Layers.medianOr0(drains.map(_.selfS)),
      "dedup.candidate_pairs" -> candidates,
      "dedup.pairs_out" -> pairsOut,
      "dedup.pairs_per_candidate" -> (if (candidates == 0) 0.0 else pairsOut / candidates),
      "dedup.verify_cpu_s" -> Layers.medianOr0(verify.map(_.lastStageCpuNs / 1e9)),
      "dedup.band_shuffle_mb" -> Layers.medianOr0(probeSpans.map(_.shWriteMb)),
      "dedup.index_write_s" -> Layers.medianOr0(
        traced.filter(_.span.name == "Dedup.appendToMinhashIndex").map(_.span.seconds)),
      "dedup.probe_s" -> Layers.medianOr0(probeSpans.map(_.span.seconds)))
  }
}
