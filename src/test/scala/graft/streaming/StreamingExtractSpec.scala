package graft.streaming

import graft.spark.Corpus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class StreamingExtractSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .appName("streaming-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false") // streaming: AQE off
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("AvailableNow drain: incremental, exactly-once across restarts") {
    val base = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"

    // batch 1 lands
    Corpus.pages(spark, 300).write.mode("append").parquet(in)
    val q1 = StreamingExtract.run(spark, in, out, ckpt)
    q1.awaitTermination()
    val n1 = spark.read.parquet(out).count()
    assert(n1 == 300)

    // batch 2 lands (rows 300..499 only); rerun drains ONLY new files
    Corpus.pages(spark, 500).filter(not(col("url").isin(
      Corpus.pages(spark, 300).select("url").collect().map(_.getString(0)).toSeq: _*)))
      .write.mode("append").parquet(in)
    val q2 = StreamingExtract.run(spark, in, out, ckpt)
    q2.awaitTermination()
    val total = spark.read.parquet(out)
    assert(total.count() == 500)
    assert(total.select("url").distinct().count() == 500) // exactly-once

    // output matches the batch kernel byte-for-byte
    val expected = Corpus.pagesWithExpected(spark, 500)
      .select(col("url"), col("expected_text"), col("expected_failure"))
    val bad = total.join(expected, Seq("url"), "full_outer")
      .filter(col("text").isNull || col("expected_text").isNull ||
        col("text") =!= col("expected_text") || col("failure") =!= col("expected_failure"))
      .count()
    assert(bad == 0)
  }

  test("mapGroupsWithState: per-host counters accumulate across drains") {
    val base = java.nio.file.Files.createTempDirectory("graft_state").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    def drain(): Unit = {
      // foreachBatch parquet sink: checkpoint-recoverable (memory sink isn't)
      val q = StreamingExtract.hostStateStream(spark, in).writeStream
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.HostState], _: Long) =>
          df.write.mode("append").parquet(out): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def hotDocs(): Long = spark.read.parquet(out)
      .filter(col("host") === "hot.example.com")
      .agg(max("docs")).collect()(0).getLong(0) // counters grow monotonically
    Corpus.pages(spark, 200).write.mode("append").parquet(in)
    drain()
    val hot1 = hotDocs()
    assert(hot1 > 30) // ~30% of 200

    // second batch lands; state must CONTINUE from the store, not restart
    Corpus.pages(spark, 500).filter(not(col("url").isin(
      Corpus.pages(spark, 200).select("url").collect().map(_.getString(0)).toSeq: _*)))
      .write.mode("append").parquet(in)
    drain()
    val hot2 = hotDocs()
    val expected = (0L until 500L).count(i =>
      graft.fixtures.FixtureGen.fixtureAt(42L, i).url.contains("hot.example.com"))
    assert(hot2 == expected, s"hot2=$hot2 expected=$expected (cumulative)")
    assert(hot2 > hot1)
  }

  test("watermarked windowed metrics stream aggregates per host") {
    val base = java.nio.file.Files.createTempDirectory("graft_stream_m").toString
    val in = s"$base/in"
    Corpus.pages(spark, 400).write.mode("append").parquet(in)
    val q = StreamingExtract.metricsStream(spark, in).writeStream
      .format("memory").queryName("lineage_metrics")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode emits only closed windows (watermark passed); with
    // synthetic monotonic warc_ts most windows close — check shape + totals
    val rows = spark.sql("select * from lineage_metrics")
    assert(rows.columns.toSeq == Seq("window_start", "host", "docs", "bytes"))
    val docs = rows.agg(sum("docs")).collect()(0).getLong(0)
    assert(docs > 0 && docs <= 400)
    assert(rows.filter(col("host") === "hot.example.com").count() > 0)
  }

  test("runWithLineage: streaming batches write the batch job's lineage layout") {
    val base = java.nio.file.Files.createTempDirectory("graft_stream_lineage").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"

    Corpus.pages(spark, 200).write.mode("append").parquet(in)
    StreamingExtract.runWithLineage(spark, in, out, ckpt).awaitTermination()

    val ex1 = spark.read.parquet(s"$out/extracted")
    assert(ex1.count() == 200)
    val lin1 = spark.read.parquet(s"$out/lineage")
    assert(lin1.agg(sum("doc_count")).first.getLong(0) == 200)
    // lineage taxonomy counts must reconcile with the extracted rows
    val okRows = ex1.filter(col("failure") === "ok").count()
    assert(lin1.agg(sum("n_ok")).first.getLong(0) == okRows)

    // second drain appends a NEW run_id with only the new docs
    Corpus.pages(spark, 300).filter(not(col("url").isin(
      Corpus.pages(spark, 200).select("url").collect().map(_.getString(0)).toSeq: _*)))
      .write.mode("append").parquet(in)
    StreamingExtract.runWithLineage(spark, in, out, ckpt).awaitTermination()

    val lin2 = spark.read.parquet(s"$out/lineage")
    assert(lin2.select("run_id").distinct().count() == 2)
    assert(lin2.agg(sum("doc_count")).first.getLong(0) == 300)
    assert(spark.read.parquet(s"$out/extracted").select("url").distinct().count() == 300)

    // the documented BATCH reader views must work over the streaming
    // outDir (round-4 review: without the per-batch _checkpoint commit
    // they silently returned EMPTY over a fully populated directory)
    assert(graft.spark.ExtractJob.readExtracted(spark, out).count() == 300)
    assert(graft.spark.ExtractJob.readLineage(spark, out)
      .agg(sum("doc_count")).first.getLong(0) == 300)
    val store = new graft.spark.ParquetCheckpointStore(spark, out)
    assert(store.committedRunIds() == Seq(0L, 1L))
    assert(store.isCommitted(0L) && !store.isCommitted(7L))
  }

  test("hostStateStream survives a null-html row (checkpoint replay would brick)") {
    val base = java.nio.file.Files.createTempDirectory("graft_stream_null").toString
    val in = s"$base/in"; val ckpt = s"$base/ckpt"; val out = s"$base/out"
    val s = spark; import s.implicits._
    Seq(("https://x.test/a", new java.sql.Timestamp(0L), null.asInstanceOf[Array[Byte]], null.asInstanceOf[String], "en"),
        ("https://x.test/b", new java.sql.Timestamp(1L), "<p>x</p>".getBytes("UTF-8"), null.asInstanceOf[String], "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("append").parquet(in)
    val q = StreamingExtract.hostStateStream(spark, in).writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.HostState], _: Long) =>
        df.write.mode("append").parquet(out): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination() // previously: NPE in the Long deserializer
    val st = spark.read.parquet(out).filter(col("host") === "x.test").collect()
    assert(st.length == 1 && st(0).getAs[Long]("docs") == 2L)
  }

  test("streamed drain salts hot hosts like the batch path (derived per drain)") {
    // VERDICT r2 #9: without a static hot list the drain derives one from a
    // bounded batch sample of the input dir — hot.example.com (~30% of the
    // corpus, >> the 5% threshold) must spread across partitions instead of
    // landing on one
    val base = java.nio.file.Files.createTempDirectory("graft_stream_hot").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    Corpus.pages(spark, 800).write.mode("append").parquet(in)
    StreamingExtract.runWithLineage(spark, in, out, ckpt,
      graft.spark.ExtractPipeline.PipelineConfig(
        numPartitions = 8, sampleFraction = 1.0)).awaitTermination()
    val parts = spark.read.parquet(s"$out/extracted")
      .filter(col("url").contains("hot.example.com"))
      .select("partition_id").distinct().count()
    assert(parts >= 4, s"hot host landed on only $parts partitions — not salted")
  }

  test("runWithLineage replay of a committed batch is skipped whole") {
    val base = java.nio.file.Files.createTempDirectory("graft_stream_replay").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    Corpus.pages(spark, 200).write.mode("append").parquet(in)
    StreamingExtract.runWithLineage(spark, in, out, ckpt).awaitTermination()

    // every file under a directory: relative name -> content hash
    def snapshot(dir: String): Map[String, Int] = {
      val root = java.nio.file.Paths.get(dir)
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => root.relativize(f).toString ->
          java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(f)))
        .toMap
      finally files.close()
    }
    val dirs = Seq("_checkpoint", "extracted", "lineage")
    val before = dirs.map(d => snapshot(s"$out/$d"))
    val rowsBefore = graft.spark.ExtractJob.readExtracted(spark, out)
      .select("url", "text", "failure").collect().map(_.toString).sorted.toSeq
    assert(rowsBefore.length == 200)

    // lose the stream's commit of batch 0: the next drain replays it
    // under the same batchId
    val commit0 = new java.io.File(s"$ckpt/commits/0")
    assert(commit0.delete())
    new java.io.File(s"$ckpt/commits/.0.crc").delete() // its checksum, if any
    StreamingExtract.runWithLineage(spark, in, out, ckpt).awaitTermination()
    assert(commit0.exists(), "the replayed batch was not re-committed by the stream")

    assert(dirs.map(d => snapshot(s"$out/$d")) == before)
    assert(graft.spark.ExtractJob.readExtracted(spark, out)
      .select("url", "text", "failure").collect().map(_.toString).sorted.toSeq == rowsBefore)
  }
}
