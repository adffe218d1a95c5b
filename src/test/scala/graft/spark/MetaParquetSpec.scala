package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side metadata parquet path (round-6 optimization) must be
  * byte-compatible with the Spark-written layout it replaced, in BOTH
  * directions: Spark reads MetaParquet files as the same table, and
  * MetaParquet reads Spark-written files from pre-existing stores. */
class MetaParquetSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[2]")
      .appName("metaparquet-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def conf = spark.sparkContext.hadoopConfiguration
  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("checkpoint: driver-written commits round-trip through Spark and MetaParquet") {
    val dir = tmp("meta_ckpt")
    val p = s"$dir/_checkpoint"
    MetaParquet.appendCommit(p, conf, 0L, 300L, "fp0", "2026-01-01T00:00:00Z")
    MetaParquet.appendCommit(p, conf, 1L, 200L, "compaction:0", "2026-01-02T00:00:00Z")

    // Spark sees the same table (schema names + values) the old writer produced
    val viaSpark = spark.read.parquet(p)
      .selectExpr("run_id", "doc_count", "source_fingerprint", "committed_at")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(_._1)
    assert(viaSpark.toSeq == Seq(
      (0L, 300L, "fp0", "2026-01-01T00:00:00Z"),
      (1L, 200L, "compaction:0", "2026-01-02T00:00:00Z")))

    // the driver-side reader agrees
    assert(MetaParquet.readCheckpoint(p, conf).sortBy(_._1).toSeq ==
      Seq((0L, "fp0"), (1L, "compaction:0")))
  }

  test("checkpoint: MetaParquet reads Spark-written files (pre-existing stores)") {
    val dir = tmp("meta_ckpt_spark")
    val p = s"$dir/_checkpoint"
    val s = spark; import s.implicits._
    Seq((7L, 42L, "sparkfp", "2026-01-03T00:00:00Z"))
      .toDF("run_id", "doc_count", "source_fingerprint", "committed_at")
      .write.mode("append").parquet(p)
    MetaParquet.appendCommit(p, conf, 8L, 1L, "mixed", "2026-01-04T00:00:00Z")
    assert(MetaParquet.readCheckpoint(p, conf).sortBy(_._1).toSeq ==
      Seq((7L, "sparkfp"), (8L, "mixed")))
    // missing dir reads as empty, not an error
    assert(MetaParquet.readCheckpoint(s"$dir/absent", conf).isEmpty)
  }

  test("a crash mid-write leaves only an invisible temp orphan, never a truncated table") {
    val dir = tmp("meta_crash")
    val p = s"$dir/_checkpoint"
    MetaParquet.appendCommit(p, conf, 0L, 10L, "fp", "2026-01-01T00:00:00Z")
    // simulate the crash window: a dot-prefixed .tmp with a truncated
    // (footer-less) body, exactly what a killed writer leaves behind
    java.nio.file.Files.write(
      java.nio.file.Paths.get(p, ".part-dead.parquet.tmp"), Array[Byte](80, 65, 82))
    // both readers skip it; the committed record is intact
    assert(MetaParquet.readCheckpoint(p, conf).toSeq == Seq((0L, "fp")))
    assert(spark.read.parquet(p).count() == 1)
    // and a successful write leaves no temp files at all
    val names = new java.io.File(p).listFiles().map(_.getName).toSeq
    assert(names.count(_.endsWith(".tmp")) == 1) // only the planted orphan
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".parquet")) == 1)
  }

  test("retired: append accumulates and interops with Spark-written rows") {
    val dir = tmp("meta_retired")
    val p = s"$dir/_retired"
    val s = spark; import s.implicits._
    Seq(0L).toDF("run_id").write.mode("append").parquet(p)
    MetaParquet.appendRetired(p, conf, Seq(1L, 2L))
    assert(MetaParquet.readRetired(p, conf) == Set(0L, 1L, 2L))
    assert(spark.read.parquet(p).collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
  }

  test("hot_hosts: nullable est_fraction and the empty-table schema survive") {
    val dir = tmp("meta_hosts")
    val p0 = s"$dir/hot_hosts/run_id=0"
    MetaParquet.writeHotHosts(p0, conf, Seq(
      ExtractJob.HotHostRow(0L, "a.example.com", 0.25, salted = true),
      ExtractJob.HotHostRow(0L, "b.example.com", null, salted = false)))
    // overwrite semantics: a second write replaces, never appends
    MetaParquet.writeHotHosts(p0, conf, Seq(
      ExtractJob.HotHostRow(0L, "a.example.com", 0.25, salted = true),
      ExtractJob.HotHostRow(0L, "b.example.com", null, salted = false)))
    val rows = spark.read.parquet(p0)
      .selectExpr("run_id", "host", "est_fraction", "salted")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)),
        r.getBoolean(3)))
      .sortBy(_._2)
    assert(rows.toSeq == Seq(
      (0L, "a.example.com", java.lang.Double.valueOf(0.25), true),
      (0L, "b.example.com", null, false)))

    // empty audit table keeps a readable schema (static-list-free runs)
    val p1 = s"$dir/hot_hosts/run_id=1"
    MetaParquet.writeHotHosts(p1, conf, Seq.empty)
    val empty = spark.read.parquet(p1)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("run_id", "host", "est_fraction", "salted"))
    // and the multi-run union read (readHotHosts' shape) still resolves
    assert(spark.read.parquet(p0, p1).count() == 2)
  }

  test("lineage: a Spark-written run and a driver-written run read as one table") {
    val dir = tmp("meta_lineage")
    val cfg = ExtractPipeline.PipelineConfig(numPartitions = 2)
    ExtractJob.run(spark, Corpus.pages(spark, 200), dir, cfg)
    // run 0's lineage the old way: Spark's groupBy over the written files
    LineageOracle.agg(spark.read.parquet(s"$dir/extracted/run_id=0"))
      .write.mode("overwrite").parquet(s"$dir/lineage/run_id=0")
    ExtractJob.run(spark, Corpus.pages(spark, 300), dir, cfg)

    def fileOf(run: Int) = new java.io.File(s"$dir/lineage/run_id=$run").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).toSeq match {
        case Seq(f) => f.getPath
        case fs => fail(s"run $run: expected one lineage file, got $fs")
      }
    // the parquet columns match, repetition (nullability) included
    def footer(run: Int) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(fileOf(run)), conf))
      try r.getFooter.getFileMetaData.getSchema.getFields finally r.close()
    }
    assert(footer(0) == footer(1))
    assert(footer(1).toString.startsWith("[optional int32 partition_id, required int64 doc_count, optional int64 bytes_in"))
    assert(spark.read.parquet(fileOf(0)).schema == spark.read.parquet(fileOf(1)).schema)

    val lin = ExtractJob.readLineage(spark, dir)
    assert(lin.columns.toSeq == LineageOracle.columns)
    assert(lin.schema == spark.read.parquet(fileOf(0)).schema)
    val sums = lin.agg(sum("doc_count"), sum("n_ok") + sum("n_empty") + sum("n_unsupported") +
      sum("n_parse_error") + sum("n_oversize")).first()
    assert(sums.getLong(0) == 300 && sums.getLong(1) == 300)
    assert(spark.read.parquet(s"$dir/_checkpoint").agg(sum("doc_count")).first().getLong(0) == 300)
  }

  test("a null fingerprint fails the commit loudly and writes nothing") {
    val dir = tmp("meta_nullfp")
    val p = s"$dir/_checkpoint"
    intercept[IllegalArgumentException] {
      MetaParquet.appendCommit(p, conf, 0L, 1L, null, "2026-01-01T00:00:00Z")
    }
    intercept[IllegalArgumentException] {
      new ParquetCheckpointStore(spark, dir).commit(0L, 1L, null)
    }
    // no visible record and no temp orphan
    assert(!new java.io.File(p).exists() || new java.io.File(p).listFiles().isEmpty)
  }

  test("a metadata dir with a visible subdirectory throws instead of reading as empty") {
    val dir = tmp("meta_nested")
    val s = spark; import s.implicits._
    // a partitionBy write nests every record under run_id=N/
    Seq((0L, 300L, "fp0", "2026-01-01T00:00:00Z"))
      .toDF("run_id", "doc_count", "source_fingerprint", "committed_at")
      .write.partitionBy("run_id").parquet(s"$dir/_checkpoint")
    val e = intercept[IllegalStateException] {
      new ParquetCheckpointStore(spark, dir).nextRunId() // would reuse run 0
    }
    assert(e.getMessage.contains("run_id=0"))
    intercept[IllegalStateException](MetaParquet.readCheckpoint(s"$dir/_checkpoint", conf))
    // hidden and underscore entries (a crashed Spark writer's _temporary) stay skipped
    new java.io.File(s"$dir/_retired/_temporary/0").mkdirs()
    new java.io.File(s"$dir/_retired/.hidden").mkdirs()
    assert(MetaParquet.readRetired(s"$dir/_retired", conf).isEmpty)
  }

  test("catalog reads open each file through the caller's conf, not a fresh Configuration") {
    val dir = tmp("meta_conf")
    val ckpt = s"$dir/_checkpoint"
    val retired = s"$dir/_retired"
    for (id <- 0L until 8L)
      MetaParquet.appendCommit(ckpt, conf, id, 10L * id, s"fp$id", "2026-01-01T00:00:00Z")
    MetaParquet.appendRetired(retired, conf, Seq(0L, 1L))
    MetaParquet.appendRetired(retired, conf, Seq(2L))
    // the first reads load the caller's conf's own resources
    val rows = MetaParquet.readCheckpoint(ckpt, conf).sortBy(_._1).toSeq
    val ret = MetaParquet.readRetired(retired, conf)
    assert(rows == (0L until 8L).map(id => (id, s"fp$id")) && ret == Set(0L, 1L, 2L))

    // a fresh Configuration looks its default resources up through the
    // context class loader; count those lookups across both reads
    val lookups = new java.util.concurrent.atomic.AtomicInteger
    val thread = Thread.currentThread
    val old = thread.getContextClassLoader
    thread.setContextClassLoader(new ClassLoader(old) {
      override def getResource(name: String): java.net.URL = {
        if (name == "core-default.xml") lookups.incrementAndGet()
        super.getResource(name)
      }
    })
    val (rowsAfter, retAfter) =
      try (MetaParquet.readCheckpoint(ckpt, conf).sortBy(_._1).toSeq,
        MetaParquet.readRetired(retired, conf))
      finally thread.setContextClassLoader(old)
    assert(lookups.get == 0, s"${lookups.get} core-default.xml lookups over 10 catalog files")
    assert(rowsAfter == rows && retAfter == ret)
  }

  test("reader views of a store with no committed run are empty with a committed run's schema") {
    val fresh = tmp("meta_empty_views")
    val oneRun = tmp("meta_one_run")
    ExtractJob.run(spark, Corpus.pages(spark, 50), oneRun,
      ExtractPipeline.PipelineConfig(numPartitions = 2))

    val extracted = ExtractJob.readExtracted(spark, fresh)
    val lineage = ExtractJob.readLineage(spark, fresh)
    val hotHosts = ExtractJob.readHotHosts(spark, fresh)
    assert(extracted.schema == ExtractJob.readExtracted(spark, oneRun).schema)
    assert(lineage.schema == ExtractJob.readLineage(spark, oneRun).schema)
    assert(hotHosts.schema == ExtractJob.readHotHosts(spark, oneRun).schema)

    // the expressions a caller writes against a committed store resolve
    assert(extracted.select("url").collect().isEmpty)
    assert(lineage.agg(sum("doc_count")).first().isNullAt(0))
  }
}
