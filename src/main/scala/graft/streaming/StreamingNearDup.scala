package graft.streaming

import graft.functions.Dedup
import graft.spark.{ExtractJob, ParquetCheckpointStore}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** CONTINUOUS incremental near-dup — the streaming driver of the x26
  * ingest loop: each arriving micro-batch of documents (1) probes the
  * persisted MinHash band index against the committed corpus and writes
  * its (new_id, old_id, jaccard) verdicts, then (2) is absorbed — band
  * rows appended to the bucketed index, text appended to the committed
  * corpus — so the NEXT batch probes against everything before it. This
  * is the production shape of web-scale dedup: the crawl never stops,
  * and no wave ever re-dedupes the corpus.
  *
  * Exactly-once design:
  *  - pair verdicts and corpus rows land in per-batch `run_id=N` dirs
  *    written with overwrite — a WAL replay of batch N is idempotent;
  *  - each batch is COMMITTED to the outDir's [[ParquetCheckpointStore]]
  *    after its writes; readers ([[readPairs]], the probe's corpus view)
  *    see committed batches only, and a replayed already-committed batch
  *    is skipped whole;
  *  - the index APPEND is the one at-least-once step (a crash between
  *    absorb and commit replays it). That is safe BY CONSTRUCTION:
  *    duplicate band rows only duplicate join candidates, and the probe
  *    dropDuplicates + exact-Jaccard verify make verdicts insensitive to
  *    candidate multiplicity. [[Dedup.compactMinhashIndex]] reclaims the
  *    space at maintenance time — QUIESCE the drains first (stop calling
  *    [[run]] until the compaction returns): the index swap is
  *    single-writer, and an absorb landing mid-rewrite would be lost
  *    with its batch already marked committed.
  */
object StreamingNearDup {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private val pairsSchema: StructType = StructType(Seq(
    StructField("new_id", LongType),
    StructField("old_id", LongType),
    StructField("jaccard", DoubleType)))

  /** Drain all currently-available document files: probe, report, absorb.
    * AvailableNow — self-terminates after the drain; call again after new
    * files land (the x25 pattern). The FIRST committed batch bootstraps
    * the index (nothing earlier to probe against). */
  def run(
      spark: SparkSession,
      inDir: String,
      outDir: String,
      checkpointDir: String,
      indexTable: String,
      shingleK: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      buckets: Int = 32, threshold: Double = 0.6): StreamingQuery = {
    val docs = spark.readStream.schema(docSchema).parquet(inDir)
    // ONE store instance per drain (foreachBatch runs on the driver):
    // commit() folds each batch's own commit into the instance cache, so
    // later batches' isCommitted/committedRunIds checks don't re-read the
    // checkpoint table they just extended (round-6; the recheck inside
    // commit still reads fresh)
    val store = new ParquetCheckpointStore(spark, outDir)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>

        if (!store.isCommitted(batchId)) { // replay of a committed batch: skip whole
          val df = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            val prior = store.committedRunIds()
            val pairs =
              if (prior.isEmpty)
                spark.createDataFrame(
                  spark.sparkContext.emptyRDD[Row], pairsSchema)
              else {
                val oldCorpus = store.read("corpus", docSchema, prior)
                Dedup.probeMinhashIndex(df, "doc_id", "text", indexTable,
                  oldCorpus, shingleK, bands, rowsPerBand, threshold)
              }
            pairs.write.mode("overwrite").parquet(s"$outDir/pairs/run_id=$batchId")
            // the commit's doc count rides the corpus write: no count job
            val (docs, _) = ExtractJob.writeCounted(df, s"$outDir/corpus/run_id=$batchId")
            if (prior.isEmpty)
              Dedup.writeMinhashIndex(df, "doc_id", "text", indexTable,
                shingleK, bands, rowsPerBand, buckets)
            else
              Dedup.appendToMinhashIndex(df, "doc_id", "text", indexTable,
                shingleK, bands, rowsPerBand, buckets)
            store.commit(batchId, docs, s"stream-neardup:batch=$batchId")
          } finally { df.unpersist(false); () }
        }
      }
      .start()
  }

  /** All committed batches' near-dup verdicts, read with `pairsSchema`;
    * empty before the first commit. */
  def readPairs(spark: SparkSession, outDir: String): DataFrame =
    new ParquetCheckpointStore(spark, outDir).read("pairs", pairsSchema)
}
