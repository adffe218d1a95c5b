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

    // both drains' output matches the batch kernel byte-for-byte
    val expected = Corpus.pagesWithExpected(spark, 300)
      .select(col("url"), col("expected_text"), col("expected_failure"))
    val bad = graft.spark.ExtractJob.readExtracted(spark, out)
      .join(expected, Seq("url"), "full_outer")
      .filter(col("text").isNull || col("expected_text").isNull ||
        col("text") =!= col("expected_text") || col("failure") =!= col("expected_failure"))
      .count()
    assert(bad == 0)

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
