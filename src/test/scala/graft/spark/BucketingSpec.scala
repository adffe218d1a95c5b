package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located joins + write fanout — the two storage-layout scale
  * tools the 100 TB plan depends on, asserted at the PLAN level. */
class BucketingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var warehouse: String = _

  override def beforeAll(): Unit = {
    warehouse = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    spark = SparkSession.builder().master("local[4]")
      .appName("bucketing-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("bucketed+sorted tables join with NO exchange and NO sort on either side") {
    val s = spark; import s.implicits._
    val docs = (0L until 2000L).map(i => (s"https://h${i % 7}.example/$i", i, s"text $i"))
      .toDF("url", "doc_id", "text")
    val labels = (0L until 2000L by 2).map(i => (s"https://h${i % 7}.example/$i", i % 3))
      .toDF("url", "label")
    Bucketing.writeBucketed(docs, "docs_b", "url", buckets = 8)
    Bucketing.writeBucketed(labels, "labels_b", "url", buckets = 8)

    val joined = spark.table("docs_b").join(spark.table("labels_b"), Seq("url"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join must be exchange-free:\n$plan")
    assert(joined.count() == 1000)

    // contrast: the same join over unbucketed frames DOES exchange both sides
    val unbucketed = docs.join(labels, Seq("url"))
    assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("maxRecordsPerFile fans the extracted output into target-sized files") {
    val out = java.nio.file.Files.createTempDirectory("graft_fanout").toString
    val pages = Corpus.pages(spark, 400)
    val res = ExtractJob.run(spark, pages, out,
      ExtractPipeline.PipelineConfig(repartitionByHost = false, numPartitions = 2),
      maxRecordsPerFile = 50L)
    assert(res.newDocs == 400)
    val files = new java.io.File(s"$out/extracted/run_id=0").listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length >= 8, s"expected >= 400/50 files, got ${files.length}")
    // every file respects the cap
    files.foreach { f =>
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 50, s"${f.getName} has $n rows")
    }
    // and the table still reads back whole
    assert(spark.read.parquet(s"$out/extracted/run_id=0").count() == 400)
  }
}
