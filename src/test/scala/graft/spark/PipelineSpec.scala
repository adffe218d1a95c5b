package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("pipeline-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("Spark job output byte-identical to answer key (t2 gate, distributed)") {
    val n = 800L
    val extracted = ExtractPipeline.extract(spark, Corpus.pages(spark, n))
    val expected = Corpus.pagesWithExpected(spark, n)
      .select(col("url"), col("expected_text"), col("expected_failure"))
    val bad = extracted.toDF().join(expected, Seq("url"), "full_outer")
      .filter(col("text").isNull || col("expected_text").isNull ||
        col("text") =!= col("expected_text") || col("failure") =!= col("expected_failure"))
      .count()
    assert(bad == 0)
    assert(extracted.count() == n)
  }

  test("physical plan: single exchange, pruned columns, salted keys") {
    val plan = ExtractPipeline.extract(spark, Corpus.pages(spark, 100))
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, s"expected 1 exchange:\n$plan")
    assert(plan.contains("hashpartitioning(host"))
    // the plan is UDF-free up to the kernel boundary: host derivation is
    // native parse_url (VERDICT r2 #5), so the only non-codegen operator is
    // the MapPartitions kernel itself
    assert(!plan.contains("UDF"), s"ScalaUDF leaked into the extraction plan:\n$plan")
    assert(plan.contains("ParseUrlEvaluator") || plan.contains("parse_url"),
      s"expected native parse_url host key:\n$plan")
  }

  test("diagnostics side-output reconciles with extracted block counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_diag").toString
    ExtractJob.run(spark, Corpus.pages(spark, 200), dir, withDiagnostics = true)
    val diag = spark.read.parquet(s"$dir/diagnostics/run_id=0")
    assert(diag.count() > 0)
    // per url: kept diagnostic rows == the extracted row's n_blocks
    // (HTML branch only — PDFs have no classifier, hence no diag rows)
    val kept = diag.filter(org.apache.spark.sql.functions.col("kept"))
      .groupBy("url").count()
    val ex = spark.read.parquet(s"$dir/extracted/run_id=0")
      .select("url", "n_blocks")
    val bad = kept.join(ex, Seq("url"))
      .filter(org.apache.spark.sql.functions.col("count") =!=
        org.apache.spark.sql.functions.col("n_blocks")).count()
    assert(bad == 0)
  }

  test("run + resume: second run over a superset processes only new urls") {
    val dir = java.nio.file.Files.createTempDirectory("graft_job").toString
    val r1 = ExtractJob.run(spark, Corpus.pages(spark, 300), dir)
    assert(r1.runId == 0 && r1.newDocs == 300)
    // superset: same 300 plus 200 more (same seed → same first 300 urls)
    val r2 = ExtractJob.run(spark, Corpus.pages(spark, 500), dir)
    assert(r2.runId == 1 && r2.newDocs == 200, s"got ${r2.newDocs}")
    val all = ExtractJob.readExtracted(spark, dir)
    assert(all.count() == 500)
    // rerun with no new input: zero new docs, still 500 total (idempotence)
    val r3 = ExtractJob.run(spark, Corpus.pages(spark, 500), dir)
    assert(r3.newDocs == 0)
    assert(ExtractJob.readExtracted(spark, dir).count() == 500)
  }

  test("crash recovery: an orphan UNCOMMITTED run is ignored and its urls redone") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash").toString
    // simulate a job that died after writing data but before the checkpoint
    // commit: data exists under run_id=0, no _checkpoint record
    ExtractPipeline.extract(spark, Corpus.pages(spark, 100)).toDF()
      .withColumn("partition_id", spark_partition_id())
      .write.parquet(s"$dir/extracted/run_id=0")
    assert(ExtractJob.readExtracted(spark, dir).count() == 0) // invisible
    val r = ExtractJob.run(spark, Corpus.pages(spark, 100), dir)
    assert(r.newDocs == 100) // all redone — nothing was committed
    assert(ExtractJob.readExtracted(spark, dir).count() == 100)
  }

  test("lineage rows cover all docs with taxonomy counts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lin").toString
    ExtractJob.run(spark, Corpus.pages(spark, 400), dir)
    val lin = ExtractJob.readLineage(spark, dir)
    val agg = lin.agg(
      sum("doc_count").as("docs"),
      sum("n_ok").as("ok"),
      sum("n_empty").as("empty"),
      sum("n_unsupported").as("uns")).collect()(0)
    assert(agg.getLong(0) == 400)
    assert(agg.getLong(1) > 300) // ~86% ok
    assert(agg.getLong(0) == agg.getLong(1) + agg.getLong(2) + agg.getLong(3))
  }

  /** Run `runId`'s lineage equals the groupBy oracle over its written
    * files row for row, and its Σ doc_count equals the `_checkpoint` count. */
  private def assertLineageIsOracle(dir: String, runId: Long): Unit = {
    val got = LineageOracle.committed(spark, dir, runId)
    assert(got == LineageOracle.expected(spark, dir, runId), s"run $runId")
    val committed = spark.read.parquet(s"$dir/_checkpoint")
      .filter(col("run_id") === runId).select("doc_count").collect().map(_.getLong(0)).toSeq
    assert(committed == Seq(got.map(_(1).asInstanceOf[Long]).sum), s"run $runId")
  }

  test("lineage rows equal the groupBy oracle: fresh, resuming, capped-file, all-empty and compact runs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lin_oracle").toString
    val cfg = ExtractPipeline.PipelineConfig(numPartitions = 4)
    val fresh = ExtractJob.run(spark, Corpus.pages(spark, 300), dir, cfg)
    assertLineageIsOracle(dir, fresh.runId)
    val resumed = ExtractJob.run(spark, Corpus.pages(spark, 400), dir, cfg)
    assert(resumed.newDocs == 100)
    assertLineageIsOracle(dir, resumed.runId)
    // several files per partition: the rows still sum per partition
    val capped = ExtractJob.run(spark, Corpus.pages(spark, 500), dir, cfg, maxRecordsPerFile = 20L)
    assert(capped.newDocs == 100)
    assert(new java.io.File(s"$dir/extracted/run_id=${capped.runId}").listFiles()
      .count(_.getName.endsWith(".parquet")) > 4)
    assertLineageIsOracle(dir, capped.runId)
    val empty = ExtractJob.run(spark, Corpus.pages(spark, 500), dir, cfg)
    assert(empty.newDocs == 0)
    assertLineageIsOracle(dir, empty.runId)
    // zero rows, and still a readable lineage schema
    assert(spark.read.parquet(s"$dir/lineage/run_id=${empty.runId}").columns.toSeq ==
      LineageOracle.columns)
    val c = ExtractJob.compact(spark, dir)
    assert(c.docs == 500)
    assertLineageIsOracle(dir, c.runId)
  }

  test("lineage rows equal the groupBy oracle: one-batch runWithLineage drain") {
    val base = java.nio.file.Files.createTempDirectory("graft_lin_stream").toString
    Corpus.pages(spark, 300).write.parquet(s"$base/in")
    graft.streaming.StreamingExtract.runWithLineage(spark, s"$base/in", s"$base/out",
      s"$base/ckpt", ExtractPipeline.PipelineConfig(numPartitions = 4)).awaitTermination()
    assert(new ParquetCheckpointStore(spark, s"$base/out").committedRunIds() == Seq(0L))
    assertLineageIsOracle(s"$base/out", 0L)
  }

  test("commitRun: null byte and char counts sum like the groupBy oracle") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lin_null").toString
    val df = ExtractPipeline.extract(spark, Corpus.pages(spark, 200)).toDF()
      .withColumn("n_chars", when(col("failure") === "ok", col("n_chars")))
      .withColumn("n_bytes_in", when(col("failure") =!= "ok", col("n_bytes_in")))
    ExtractJob.commitRun(new ParquetCheckpointStore(spark, dir), dir, 0L, df, "fp")(audit = ())
    assertLineageIsOracle(dir, 0L)
  }

  test("hotHosts: per-partition sampling finds a hot host clustered in LATE partitions (round-4)") {
    val s = spark; import s.implicits._
    // host-clustered layout (what a host-bucketed table looks like): 100
    // small hosts in the FIRST partitions, the giant host in the LAST.
    // The old global limit(maxSampleRows) consumed partitions in index
    // order and never saw the giant; the per-partition cap must.
    val small = (0 until 100).flatMap(h => (0 until 10).map(i =>
      s"https://small-$h.example.com/p$i")).toDF("url").repartition(4)
    val hot = (0 until 3000).map(i => s"https://giant.example.com/p$i")
      .toDF("url").repartition(2)
    val pages = small.union(hot) // union preserves child partition order
    val cfg = ExtractPipeline.PipelineConfig(
      sampleFraction = 1.0, maxSampleRows = 200, hotHostFraction = 0.3)
    val found = ExtractPipeline.hotHosts(spark, pages, cfg)
    assert(found.contains("giant.example.com"),
      s"late-partition hot host missed: $found")
    assert(!found.exists(_.startsWith("small-")), s"small host flagged hot: $found")
  }

  test("saltBuckets <= 1 disables salting instead of ANSI divide-by-zero (round-4)") {
    val cfg = ExtractPipeline.PipelineConfig(numPartitions = 4, saltBuckets = 0,
      staticHotHosts = Some(Set("hot.example.com")))
    // old code: pmod(xxhash64(url), 0) -> SparkArithmeticException under ANSI
    val n = ExtractPipeline.extract(spark, Corpus.pages(spark, 300), cfg).count()
    assert(n == 300)
  }

  test("run writes a salting audit: estimated hot hosts with fraction, static list with null") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hh").toString
    try {
      // run 0: estimation path at sampleFraction 1.0 (exact census) —
      // hot.example.com carries ~30% of fixtures by construction
      ExtractJob.run(spark, Corpus.pages(spark, 300), dir,
        ExtractPipeline.PipelineConfig(sampleFraction = 1.0))
      // run 1: static operator list, salting disabled
      ExtractJob.run(spark, Corpus.pages(spark, 400), dir,
        ExtractPipeline.PipelineConfig(saltBuckets = 1,
          staticHotHosts = Some(Set("hot.example.com"))))
      val rows = ExtractJob.readHotHosts(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
        .sortBy(x => (x._1, x._2)).toSeq
      assert(rows.map(x => (x._1, x._2)) == Seq((0L, "hot.example.com"), (1L, "hot.example.com")),
        s"rows=$rows")
      val est = rows.head._3
      assert(est.exists(f => f > 0.2 && f < 0.4), s"estimated fraction off: $est")
      assert(rows.head._4, "estimation run with saltBuckets > 1 must report salted=true")
      assert(rows(1)._3.isEmpty, "static hosts carry no estimate")
      assert(!rows(1)._4, "saltBuckets <= 1 must report salted=false")
    } finally graft.FsUtil.deleteRecursively(new java.io.File(dir))
  }

  test("hot-host salting spreads the skewed host over multiple partitions") {
    val pages = Corpus.pages(spark, 2000)
    val cfg = ExtractPipeline.PipelineConfig(numPartitions = 8, saltBuckets = 8,
      sampleFraction = 1.0)
    val parts = ExtractPipeline.extract(spark, pages, cfg)
      .filter(col("url").contains("hot.example.com"))
      .select(spark_partition_id().as("pid")).distinct().count()
    assert(parts >= 4, s"hot host landed on only $parts partitions")
  }
}
