package graft.streaming

import graft.core.ExtractedRow
import graft.spark.{ExtractJob, ExtractPipeline, ParquetCheckpointStore}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Incremental extraction as a Structured Streaming job (SURVEY §2.6
  * streaming row): `readStream` over the pages table directory →
  * per-row stateless kernel → exactly-once parquet sink.
  *
  * Extraction needs no event-time state (each page is independent), so the
  * natural trigger is `AvailableNow` — drain whatever has landed since the
  * last checkpoint and stop; the file-source + checkpoint pair gives the
  * same resume semantics as the batch job's snapshot anti-join, with
  * exactly-once output via the file-sink commit log.
  *
  * [[metricsStream]] adds the event-time path for completeness: watermarked
  * sliding-window doc counts per host over `warc_ts` — the streaming
  * equivalent of the batch lineage rows.
  */
/** Accumulated per-host crawl counters (stateful streaming). */
final case class HostState(host: String, docs: Long, bytes: Long)

object StreamingExtract {

  /** input_hint schema (url, warc_ts, html, text, lang). */
  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** Hot-host parity with the batch path (VERDICT r2 #9): a stream cannot
    * run the sampling pre-pass per micro-batch, but an AvailableNow drain
    * CAN derive the hot list ONCE per drain from a bounded BATCH sample of
    * the same input directory (url column only — pruned, sampled, capped
    * and counted exactly like the batch job, in one map-only Spark job per
    * drain). A static list still wins when provided;
    * with repartitioning explicitly off, nothing is derived. */
  private def withDerivedHotHosts(
      spark: SparkSession, inDir: String,
      cfg: ExtractPipeline.PipelineConfig): ExtractPipeline.PipelineConfig =
    if (cfg.staticHotHosts.isDefined || !cfg.repartitionByHost) cfg
    else {
      val batch = spark.read.schema(pageSchema).parquet(inDir)
      cfg.copy(staticHotHosts =
        Some(ExtractPipeline.hotHosts(spark, batch, cfg)))
    }

  /** Drain all currently-available input files through the kernel into an
    * exactly-once parquet sink; returns the started query (AvailableNow —
    * it self-terminates). */
  def run(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      cfg: ExtractPipeline.PipelineConfig = ExtractPipeline.PipelineConfig()): StreamingQuery = {
    val pages = spark.readStream.schema(pageSchema).parquet(inDir)
    val streamCfg = withDerivedHotHosts(spark, inDir, cfg)
    val extracted = ExtractPipeline.extract(spark, pages, streamCfg)
    extracted.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Incremental drain with the BATCH job's full audit surface: every
    * micro-batch writes extracted rows AND per-partition lineage rows in
    * the same layout as [[graft.spark.ExtractJob]] (`extracted/run_id=N`,
    * `lineage/run_id=N`, run_id = streaming batchId), so a streaming
    * deployment answers the same resume/audit queries as the batch path
    * (VERDICT r1 #10 — lineage was previously batch-only).
    *
    * Exactly-once: every batch goes through the batch job's committed-run
    * protocol ([[graft.spark.ExtractJob.commitRun]]: one Spark query, the
    * batch's extracted write, with its lineage counters observed on that
    * write and the lineage rows written by the driver) and is COMMITTED to the
    * `_checkpoint` store under its batchId, so the documented reader views
    * `ExtractJob.readExtracted`/`readLineage` see it (round-4 review:
    * without the commit they silently returned EMPTY over a fully
    * populated streaming outDir). The checkpoint WAL replays an
    * interrupted batch under the SAME batchId: an already-committed
    * batchId is skipped whole — its directories are not rewritten and
    * nothing is re-committed — while an uncommitted one is redone from
    * scratch (its writes overwrite that run_id's directories). A
    * streaming outDir is its own store: do not point batch
    * `ExtractJob.run` at it (batch run ids and stream batch ids share the
    * same numbering). */
  def runWithLineage(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      cfg: ExtractPipeline.PipelineConfig = ExtractPipeline.PipelineConfig()): StreamingQuery = {
    val pages = spark.readStream.schema(pageSchema).parquet(inDir)
    val streamCfg = withDerivedHotHosts(spark, inDir, cfg)
    val extracted = ExtractPipeline.extract(spark, pages, streamCfg)
    // ONE store instance per drain (the StreamingNearDup pattern): commit()
    // folds each batch's record into the instance cache, so later batches'
    // isCommitted checks don't re-read the checkpoint table they just
    // extended (review finding: a fresh per-batch store re-read it B times)
    val store = new ParquetCheckpointStore(spark, outDir)
    extracted.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[ExtractedRow], batchId: Long) =>
        if (!store.isCommitted(batchId)) { // replay of a committed batch: skip whole
          ExtractJob.commitRun(store, outDir, batchId, batch.toDF(),
            s"stream:batch=$batchId")(audit = ())
          ()
        }
      }
      .start()
  }

  /** Per-host CUMULATIVE crawl state across incremental drains — the
    * custom-state streaming operator (KeyValueGroupedDataset
    * .mapGroupsWithState): state persists in the checkpointed state store,
    * so a host's totals keep accumulating across AvailableNow runs.
    * (Extraction itself needs no state; this is the lineage-counter flavor
    * a long-running crawl monitor would keep.) */
  def hostStateStream(spark: SparkSession, inDir: String): org.apache.spark.sql.Dataset[HostState] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupState
    val pages = spark.readStream.schema(pageSchema).parquet(inDir)
    pages
      .withColumn("host", ExtractPipeline.hostCol(col("url")))
      // coalesce: a null html row (pageSchema allows it) would NPE the
      // primitive-Long deserializer and permanently brick the checkpointed
      // stream on replay (round-3 review)
      .select(col("host").as[String],
        coalesce(length(col("html")).cast("long"), lit(0L)).as[Long])
      .groupByKey(_._1)
      .mapGroupsWithState[HostState, HostState](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (host: String, rows: Iterator[(String, Long)], state: GroupState[HostState]) =>
          val prev = state.getOption.getOrElse(HostState(host, 0L, 0L))
          var docs = prev.docs
          var bytes = prev.bytes
          rows.foreach { r => docs += 1; bytes += r._2 }
          val next = HostState(host, docs, bytes)
          state.update(next)
          next
      }
  }

  /** Event-time lineage metrics: per-host doc counts in 1-minute windows,
    * 30s watermark for late pages. Returns the aggregated streaming frame
    * (caller picks the sink — tests use memory sink, production appends to
    * the lineage table). */
  def metricsStream(spark: SparkSession, inDir: String): DataFrame = {
    val pages = spark.readStream.schema(pageSchema).parquet(inDir)
    pages
      .withColumn("host", ExtractPipeline.hostCol(col("url")))
      .withWatermark("warc_ts", "30 seconds")
      .groupBy(window(col("warc_ts"), "1 minute"), col("host"))
      .agg(count(lit(1)).as("docs"), sum(length(col("html"))).as("bytes"))
      .select(col("window.start").as("window_start"), col("host"), col("docs"), col("bytes"))
  }
}
