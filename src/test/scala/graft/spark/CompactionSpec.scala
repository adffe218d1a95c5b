package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Compaction (Iceberg rewrite_data_files surrogate): many small committed
  * runs rewrite into one target-sized run; readers, resume, and lineage
  * all stay exactly-once. */
class CompactionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("compaction-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("compact: consolidates runs, retires sources, preserves reader/resume/lineage contracts") {
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val cfg = ExtractPipeline.PipelineConfig(repartitionByHost = false, numPartitions = 4)

    // two incremental drains -> two committed runs with small files
    ExtractJob.run(spark, Corpus.pages(spark, 300), out, cfg, maxRecordsPerFile = 40L)
    val r2 = ExtractJob.run(spark, Corpus.pages(spark, 500), out, cfg, maxRecordsPerFile = 40L)
    assert(r2.newDocs == 200) // resume: only the new urls
    val filesBefore =
      Seq(0, 1).map(id => new java.io.File(s"$out/extracted/run_id=$id")
        .listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(filesBefore >= 500 / 40)

    val c = ExtractJob.compact(spark, out, maxRecordsPerFile = 1000L)
    assert(c.docs == 500)

    // only the compacted run is live; its files are consolidated
    val store = new ParquetCheckpointStore(spark, out)
    assert(store.committedRunIds() == Seq(c.runId))
    val filesAfter = new java.io.File(s"$out/extracted/run_id=${c.runId}")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(filesAfter < filesBefore, s"$filesAfter vs $filesBefore")

    // reader contract: same 500 distinct urls, same bytes as truth
    val read = ExtractJob.readExtracted(spark, out)
    assert(read.count() == 500 && read.select("url").distinct().count() == 500)
    val expected = Corpus.pagesWithExpected(spark, 500)
      .select(col("url"), col("expected_text"), col("expected_failure"))
    val bad = read.join(expected, Seq("url"), "full_outer")
      .filter(col("text").isNull || col("expected_text").isNull ||
        col("text") =!= col("expected_text") || col("failure") =!= col("expected_failure"))
      .count()
    assert(bad == 0)

    // lineage for the compacted run reconciles
    val lin = spark.read.parquet(s"$out/lineage/run_id=${c.runId}")
    assert(lin.agg(sum("doc_count")).first.getLong(0) == 500)

    // resume after compaction: rerunning the same input is a no-op
    val r3 = ExtractJob.run(spark, Corpus.pages(spark, 500), out, cfg)
    assert(r3.newDocs == 0, s"resume redid ${r3.newDocs} docs after compaction")

    // and a genuinely new batch still appends incrementally
    val r4 = ExtractJob.run(spark, Corpus.pages(spark, 600), out, cfg)
    assert(r4.newDocs == 100)
    assert(ExtractJob.readExtracted(spark, out).count() == 600)
  }

  test("crash window: a committed compaction supersedes its sources even if retirement never ran") {
    val out = java.nio.file.Files.createTempDirectory("graft_compact_crash").toString
    val cfg = ExtractPipeline.PipelineConfig(repartitionByHost = false, numPartitions = 2)
    ExtractJob.run(spark, Corpus.pages(spark, 200), out, cfg)
    ExtractJob.run(spark, Corpus.pages(spark, 300), out, cfg)
    val c = ExtractJob.compact(spark, out)
    assert(c.newDocs == 0) // compaction never ingests
    // simulate the crash-between-commit-and-retire window: drop _retired
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf)
      f.delete()
    }
    rmRf(new java.io.File(s"$out/_retired"))
    val store = new ParquetCheckpointStore(spark, out)
    assert(store.committedRunIds() == Seq(c.runId),
      "compaction fingerprint must supersede source runs without _retired")
    assert(ExtractJob.readExtracted(spark, out).count() == 300)
    assert(ExtractJob.readLineage(spark, out)
      .agg(sum("doc_count")).first.getLong(0) == 300) // no double count
    // resume still exact
    assert(ExtractJob.run(spark, Corpus.pages(spark, 300), out, cfg).newDocs == 0)
  }

  test("compact over runs that are all empty commits 0 docs") {
    val out = java.nio.file.Files.createTempDirectory("graft_compact_empty").toString
    val cfg = ExtractPipeline.PipelineConfig(repartitionByHost = false, numPartitions = 2)
    assert(ExtractJob.run(spark, Corpus.pages(spark, 0), out, cfg).newDocs == 0)
    val c = ExtractJob.compact(spark, out)
    assert(c.docs == 0)
    assert(new ParquetCheckpointStore(spark, out).committedRunIds() == Seq(c.runId))
    assert(ExtractJob.readExtracted(spark, out).count() == 0)
  }
}
