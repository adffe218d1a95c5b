package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `hotHostEstimates` (per-split host counts merged on the driver) equals
  * the Spark-side `groupBy(host)` → `crossJoin(broadcast(sum))` → filter
  * plan it replaced, host for host and `est_fraction` by `==`, over random
  * url sets with malformed and null urls, every sampling regime and the
  * threshold's edge values. */
class HotHostProperties extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("hot-host-properties")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** The estimate as the distributed plan computed it: same sample, same
    * per-split cap, the counting and the threshold in Spark. */
  private def oracle(pages: DataFrame, cfg: ExtractPipeline.PipelineConfig): Seq[(String, Double)] = {
    val s = spark; import s.implicits._
    if (cfg.hotHostFraction >= 1.0) return Seq.empty
    val maxRows = cfg.maxSampleRows
    val sample = pages.select("url")
      .sample(withReplacement = false, cfg.sampleFraction, seed = 42)
      .as[String]
      .mapPartitions { it =>
        val cap = math.max(1,
          maxRows / math.max(1, org.apache.spark.TaskContext.get().numPartitions()))
        it.take(cap)
      }
    val counts = sample.toDF("url")
      .select(ExtractPipeline.hostCol(col("url")).as("host"))
      .groupBy("host").count()
    val total = broadcast(counts.agg(sum("count").as("_total")))
    counts.crossJoin(total)
      .filter(col("count") > col("_total") * cfg.hotHostFraction)
      .select(col("host"), (col("count") / col("_total")).as("est_fraction"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toSeq
  }

  private val malformed = Seq(
    "http://bad host.example.com/x", "https://pct.example.com/%zz", "https://a.example.com/%",
    "not a url", "http://[::1", "", "://missing-scheme", "https://ok.example.com/a b")

  /** `n` urls over a skewed host distribution (host 0 takes ~`hotShare`),
    * ~5% malformed, ~3% null, in `splits` deterministic partitions. */
  private def urls(seed: Long, n: Int, splits: Int, hotShare: Double): DataFrame = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = Seq.fill(n) {
      val u = rnd.nextDouble()
      if (u < 0.03) null
      else if (u < 0.08) malformed(rnd.nextInt(malformed.size))
      else {
        val h = if (rnd.nextDouble() < hotShare) 0 else 1 + (rnd.nextGaussian().abs * 6).toInt
        s"https://h$h.example.com/p${rnd.nextInt(1000)}"
      }
    }
    spark.sparkContext.parallelize(rows, splits).toDF("url")
  }

  private val fractions = Seq(0.0, 0.05, 0.3, 1.0, 1.5)

  private def assertSweep(pages: DataFrame, cfgs: Seq[ExtractPipeline.PipelineConfig]): Int =
    cfgs.map { cfg =>
      val got = ExtractPipeline.hotHostEstimates(spark, pages, cfg)
      val want = oracle(pages, cfg)
      assert(got == want, s"cfg=$cfg")
      got.size
    }.sum

  test("equals the groupBy oracle: random urls, sampling regimes and thresholds") {
    var nonEmpty = 0
    for ((seed, splits) <- Seq((1L, 4), (2L, 8), (3L, 3))) {
      val pages = urls(seed, 3000, splits, hotShare = 0.25 + 0.05 * seed)
      val cfgs = for {
        sampleFraction <- Seq(1.0, 0.01)
        // the default cap, a cap below the rows per split, fewer rows than splits
        maxSampleRows <- Seq(100000, 40 * splits, splits - 1)
        f <- fractions
      } yield ExtractPipeline.PipelineConfig(
        sampleFraction = sampleFraction, maxSampleRows = maxSampleRows, hotHostFraction = f)
      nonEmpty += assertSweep(pages, cfgs)
    }
    assert(nonEmpty > 0, "no configuration found a hot host: the sweep compares only empties")
  }

  test("equals the groupBy oracle: empty, all-null and all-malformed frames") {
    val s = spark; import s.implicits._
    val cfgs = for {
      sampleFraction <- Seq(1.0, 0.01)
      f <- fractions
    } yield ExtractPipeline.PipelineConfig(sampleFraction = sampleFraction, hotHostFraction = f)
    assertSweep(Seq.empty[String].toDF("url"), cfgs)
    assertSweep(spark.sparkContext.parallelize(Seq.fill(50)(null: String), 4).toDF("url"), cfgs)
    val bad = spark.sparkContext.parallelize(Seq.tabulate(200)(i => malformed(i % malformed.size)), 4)
      .toDF("url")
    assertSweep(bad, cfgs)
    // malformed and null urls count under host "" at the exact census
    val census = ExtractPipeline.hotHostEstimates(spark,
      bad.union(Seq[String](null).toDF("url")), ExtractPipeline.PipelineConfig(sampleFraction = 1.0))
    assert(census.map(_._1).contains(""), s"census=$census")
  }

  test("equals the groupBy oracle on a landed table with a resume anti-join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hh_prop").toString
    try {
      Corpus.pages(spark, 600).write.parquet(s"$dir/in")
      val pages = spark.read.parquet(s"$dir/in")
      val done = Corpus.pages(spark, 200).select("url")
      val pending = pages.join(done, Seq("url"), "left_anti")
      val cfgs = for {
        sampleFraction <- Seq(1.0, 0.01)
        f <- Seq(0.05, 0.3)
      } yield ExtractPipeline.PipelineConfig(sampleFraction = sampleFraction, hotHostFraction = f)
      assertSweep(pages, cfgs)
      assertSweep(pending, cfgs)
    } finally graft.FsUtil.deleteRecursively(new java.io.File(dir))
  }
}
