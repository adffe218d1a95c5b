package graft.spark

import graft.streaming.StreamingExtract
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the number of Spark jobs each committed-run entry point launches.
  * The protocol's metadata lives on the driver, the lineage counters are
  * observed on the extracted write and every committed table is read with
  * the schema it was written with, so the counts are data jobs only: a
  * regression that adds a schema-inference job, a separate count, a
  * lineage query or a metadata round-trip shows up here as +1.
  *
  * The protocol pins use a static hot-host list, so the sampling pre-pass
  * (not part of the protocol) launches no jobs there. The estimator pins
  * run the same entry points with no static list: each estimate adds its
  * one map-only job, and on a resuming run the anti-join it samples adds
  * its own broadcast job. */
class CommitJobCountSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val jobs = new java.util.concurrent.atomic.AtomicInteger

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("commit-job-count-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val cfg = ExtractPipeline.PipelineConfig(
    numPartitions = 4, staticHotHosts = Some(Set("hot.example.com")))

  private def jobsOf(f: => Any): Int = {
    ListenerBusDrain.drain(spark.sparkContext)
    val before = jobs.get
    f
    ListenerBusDrain.drain(spark.sparkContext)
    jobs.get - before
  }

  /** `n` pages landed as a parquet table and read with the known schema,
    * so the input scan itself infers nothing. */
  private def landed(dir: String, n: Long): DataFrame = {
    val in = s"$dir/in_$n"
    Corpus.pages(spark, n).write.parquet(in)
    spark.read.schema(StreamingExtract.pageSchema).parquet(in)
  }

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("fresh run: one extract+write query (map stage + write), lineage observed on it") {
    val dir = tmp("graft_jobs_fresh")
    val pages = landed(dir, 300)
    assert(jobsOf(ExtractJob.run(spark, pages, s"$dir/out", cfg)) == 2)
    assert(ExtractJob.readExtracted(spark, s"$dir/out").count() == 300)
  }

  test("resuming run: the anti-join adds one job, the committed-url scan none") {
    val dir = tmp("graft_jobs_resume")
    ExtractJob.run(spark, landed(dir, 200), s"$dir/out", cfg)
    val pages = landed(dir, 300)
    var r: ExtractJob.RunResult = null
    assert(jobsOf { r = ExtractJob.run(spark, pages, s"$dir/out", cfg) } == 3)
    assert(r.newDocs == 100)
  }

  test("compact: the rewrite only, lineage observed on it") {
    val dir = tmp("graft_jobs_compact")
    ExtractJob.run(spark, landed(dir, 200), s"$dir/out", cfg)
    ExtractJob.run(spark, landed(dir, 300), s"$dir/out", cfg)
    var c: ExtractJob.RunResult = null
    assert(jobsOf { c = ExtractJob.compact(spark, s"$dir/out") } == 2)
    assert(c.docs == 300)
  }

  test("reader views build without a job") {
    val dir = tmp("graft_jobs_views")
    val out = s"$dir/out"
    ExtractJob.run(spark, landed(dir, 200), out, cfg)
    ExtractJob.run(spark, landed(dir, 300), out, cfg)
    var views: Seq[DataFrame] = Nil
    assert(jobsOf {
      views = Seq(ExtractJob.readExtracted(spark, out),
        ExtractJob.readLineage(spark, out), ExtractJob.readHotHosts(spark, out))
    } == 0)
    // each view carries the schema its files were written with
    for ((view, table) <- views.zip(Seq("extracted", "lineage", "hot_hosts")))
      assert(view.schema == spark.read.parquet(s"$out/$table/run_id=0").schema, table)
    assert(views.head.count() == 300)
  }

  test("one-batch runWithLineage drain: one extract+write query, nothing cached") {
    val dir = tmp("graft_jobs_stream")
    Corpus.pages(spark, 200).write.parquet(s"$dir/in")
    val n = jobsOf(StreamingExtract.runWithLineage(
      spark, s"$dir/in", s"$dir/out", s"$dir/ckpt", cfg).awaitTermination())
    assert(n == 2)
    assert(ExtractJob.readExtracted(spark, s"$dir/out").count() == 200)
  }

  /** Estimation on, as an exact census: the sample is never empty, so
    * AQE cannot drop the stages after an empty shuffle and hide a plan's
    * jobs (a 1% sample of 100 pending urls is often empty). */
  private val estimated = ExtractPipeline.PipelineConfig(numPartitions = 4, sampleFraction = 1.0)

  test("hotHostEstimates on a landed table: one map-only job") {
    val dir = tmp("graft_jobs_hh")
    val pages = landed(dir, 300)
    var est: Seq[(String, Double)] = null
    assert(jobsOf { est = ExtractPipeline.hotHostEstimates(spark, pages, estimated) } == 1)
    assert(est.map(_._1) == Seq("hot.example.com"))
  }

  test("fresh run with estimated hot hosts: the sample adds one job") {
    val dir = tmp("graft_jobs_fresh_est")
    val pages = landed(dir, 300)
    assert(jobsOf(ExtractJob.run(spark, pages, s"$dir/out", estimated)) == 3)
  }

  test("resuming run with estimated hot hosts: the anti-join's broadcast plus the sample") {
    val dir = tmp("graft_jobs_resume_est")
    ExtractJob.run(spark, landed(dir, 200), s"$dir/out", estimated)
    val pages = landed(dir, 300)
    var r: ExtractJob.RunResult = null
    assert(jobsOf { r = ExtractJob.run(spark, pages, s"$dir/out", estimated) } == 5)
    assert(r.newDocs == 100)
  }

  test("one-batch runWithLineage drain with derived hot hosts: the sample adds one job") {
    val dir = tmp("graft_jobs_stream_est")
    Corpus.pages(spark, 200).write.parquet(s"$dir/in")
    val n = jobsOf(StreamingExtract.runWithLineage(
      spark, s"$dir/in", s"$dir/out", s"$dir/ckpt", estimated).awaitTermination())
    assert(n == 3)
    assert(ExtractJob.readExtracted(spark, s"$dir/out").count() == 200)
  }
}
