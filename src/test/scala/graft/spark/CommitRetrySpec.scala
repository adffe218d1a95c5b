package graft.spark

import graft.core.ExtractedRow
import org.apache.spark.{ListenerBusDrain, Success, TaskContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A retried write task must not count twice: the lineage counters and the
  * doc count are observed on the extracted write, and only the successful
  * attempt of each task contributes to them. `local[4,2]` allows one retry
  * per task. */
class CommitRetrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val failedTasks = new java.util.concurrent.atomic.AtomicInteger

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4,2]")
      .appName("commit-retry-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success) { failedTasks.incrementAndGet(); () }
    })
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Commit `ds` as run 0 of a fresh outDir; (committed count, lineage rows). */
  private def commit(ds: Dataset[ExtractedRow]): (Long, Seq[Seq[Any]]) = {
    val dir = tmp("graft_retry")
    val docs = ExtractJob.commitRun(
      new ParquetCheckpointStore(spark, dir), dir, 0L, ds.toDF(), "fp")(audit = ())
    val lineage = LineageOracle.committed(spark, dir, 0L)
    assert(lineage == LineageOracle.expected(spark, dir, 0L))
    (docs, lineage)
  }

  test("commitRun: a write task that fails once and is retried counts once") {
    val s = spark; import s.implicits._
    val cfg = ExtractPipeline.PipelineConfig(
      numPartitions = 4, staticHotHosts = Some(Set("hot.example.com")))
    def extracted = ExtractPipeline.extract(spark, Corpus.pages(spark, 400), cfg)
    val clean = commit(extracted)

    ListenerBusDrain.drain(spark.sparkContext)
    val failedBefore = failedTasks.get
    // the kernel runs in the write stage (after the host exchange): the
    // first attempt of write task 1 passes 10 rows on to the write and its
    // observation, then fails
    val flaky = extracted.mapPartitions { it =>
      val tc = TaskContext.get()
      val failing = tc.partitionId() == 1 && tc.attemptNumber() == 0
      it.zipWithIndex.map { case (r, i) =>
        if (failing && i == 10) throw new RuntimeException("injected first-attempt failure")
        r
      }
    }
    val retried = commit(flaky)
    ListenerBusDrain.drain(spark.sparkContext)
    assert(failedTasks.get - failedBefore == 1)
    assert(retried == clean)
    assert(clean._1 == 400)
  }
}
