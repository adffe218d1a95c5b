package graft.spark

import graft.core.{ExtractedRow, Failure}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** Committed, resumable extraction runs: extracted table + per-partition
  * lineage rows + a run-level checkpoint record.
  *
  * The Iceberg-snapshot design from SURVEY §4.2 degraded to its documented
  * parquet surrogate (no iceberg-spark-runtime jar on the classpath):
  * [[ParquetCheckpointStore]] keeps the run-level commit records that
  * Iceberg `snapshot-id` commits would keep on a real cluster, and
  * [[commitRun]] is the one write path every committed run goes through.
  *
  * Layout under `outDir`:
  *   extracted/run_id=N/   — extracted rows for run N (append-only, atomic
  *                           per run: written to _tmp then renamed)
  *   lineage/run_id=N/     — one row per output partition: doc/byte counts +
  *                           failure taxonomy counts (the reference's
  *                           per-page stats, main/segment.c:158-174, as data),
  *                           counted on the extracted write and written by
  *                           the driver ([[MetaParquet.writeLineage]])
  *   _checkpoint/          — one row per committed run: run_id, source
  *                           fingerprint, counts, committed_at
  *
  * Resume semantics (north rule): a rerun with the same outDir skips every
  * url already present in committed runs (left-anti join on url), so a
  * killed job continues where it stopped; reruns are idempotent — the
  * reader view [[readExtracted]] guards with dropDuplicates(url).
  *
  * Scale notes: the anti-join at 10^12 rows joins input urls against
  * committed output urls — both sides hash-partitioned by url; Spark picks
  * SMJ/shuffled-hash and AQE handles skew. Reading ONLY the url column of
  * committed output is a pruned parquet scan.
  */
object ExtractJob {

  final case class RunResult(runId: Long, docs: Long, newDocs: Long)

  /** One salting-audit row (public: Spark codegen instantiates it):
    * which host the run treated as hot, at what estimated corpus share
    * (null when the host came from a static operator-supplied list), and
    * whether its keys were actually salted (false when saltBuckets <= 1
    * disabled salting). Written to `hot_hosts/run_id=N` alongside the
    * lineage rows — at 100x an operator reads THIS to see what the skew
    * defense did (VERDICT r4 #6). */
  final case class HotHostRow(
      run_id: Long, host: String, est_fraction: java.lang.Double, salted: Boolean)

  /** One committed extraction run: resume anti-join, hot-host audit rows,
    * then [[commitRun]] of the extracted rows.
    *
    * `maxRecordsPerFile` tunes the write fanout to target file sizes (the
    * Iceberg `write.target-file-size-bytes` analog): without a cap, one
    * task writing a salted hot-host bucket can emit a multi-GB file that
    * downstream scans cannot split efficiently; with rows-per-file capped,
    * every output file lands near the target size. 0 disables (small test
    * runs don't need fanout).
    *
    * `withDiagnostics = true` additionally writes the per-block classifier
    * feature dump (S9 `-T` parity) to `diagnostics/run_id=N` — an opt-in
    * DEBUG surface: it re-parses the pending pages (a second kernel pass),
    * which is the right trade for a dump a user enables on a sampled or
    * problematic slice, not on every production run. */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      outDir: String,
      cfg: ExtractPipeline.PipelineConfig = ExtractPipeline.PipelineConfig(),
      maxRecordsPerFile: Long = 0L,
      withDiagnostics: Boolean = false): RunResult = {

    val store = new ParquetCheckpointStore(spark, outDir)
    val runId = store.nextRunId()

    // resume: anti-join away urls already committed (url column only — pruned scan)
    val pending = store.committedUrls() match {
      case Some(done) => pages.join(done, Seq("url"), "left_anti")
      case None => pages
    }

    // hot-host estimation is lifted OUT of extract() so the run can audit
    // it: the estimates (or the static list) become hot_hosts rows, and
    // extract() receives the resolved set — the sampling pre-pass (one
    // map-only job over the pending urls, thresholded on the driver) runs
    // once either way, and not at all with a static list
    val salted = cfg.repartitionByHost && cfg.saltBuckets > 1
    val hotRows: Seq[HotHostRow] =
      if (!cfg.repartitionByHost) Seq.empty
      else cfg.staticHotHosts match {
        case Some(hs) => hs.toSeq.sorted.map(HotHostRow(runId, _, null, salted))
        case None => ExtractPipeline.hotHostEstimates(spark, pending, cfg)
          .map { case (h, f) => HotHostRow(runId, h, f, salted) }
      }
    val cfgResolved =
      if (cfg.repartitionByHost)
        cfg.copy(staticHotHosts = Some(hotRows.map(_.host).toSet))
      else cfg

    // source fingerprint = hash of the input file listing (the parquet
    // surrogate of an Iceberg source snapshot id)
    val files = pages.inputFiles
    val fingerprint =
      if (files.isEmpty) "inmemory"
      else java.lang.Long.toHexString(
        files.sorted.foldLeft(0xCBF29CE484222325L)((h, f) =>
          (h ^ f.hashCode.toLong) * 0x100000001B3L))
    val extracted = ExtractPipeline.extract(spark, pending, cfgResolved).toDF()
    val newDocs = commitRun(store, outDir, runId, extracted, fingerprint, maxRecordsPerFile) {
      // the salting audit (written even when empty, so readers see a stable
      // schema for every committed run) — driver-side parquet: the rows are
      // already a driver-local Seq (see MetaParquet)
      MetaParquet.writeHotHosts(s"$outDir/hot_hosts/run_id=$runId",
        spark.sparkContext.hadoopConfiguration, hotRows)
      if (withDiagnostics)
        ExtractPipeline.diagnostics(spark, pending, cfgResolved)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/diagnostics/run_id=$runId")
    }
    RunResult(runId, newDocs, newDocs)
  }

  /** The committed-run protocol — the one write path of [[run]],
    * [[compact]] and [[graft.streaming.StreamingExtract.runWithLineage]]:
    *  1. tag every row with its output `partition_id`;
    *  2. write `extracted/run_id=N` and observe, on the write itself, the
    *     doc count and the per-partition lineage counters (the reference's
    *     running per-page stats, main/segment.c:158-174 — no second scan,
    *     no read-back; one Spark query per committed write);
    *  3. write those ≤ P rows to `lineage/run_id=N` on the driver
    *     ([[MetaParquet.writeLineage]]);
    *  4. run the caller's `audit` writes;
    *  5. commit LAST with the observed count — a crash before the commit
    *     leaves an uncommitted run that the next run redoes.
    * Σ lineage `doc_count` equals the committed count: both come from the
    * same aggregation pass. Returns the committed doc count. */
  private[graft] def commitRun(
      store: ParquetCheckpointStore, outDir: String, runId: Long, df: DataFrame,
      fingerprint: String, maxRecordsPerFile: Long = 0L)(audit: => Unit): Long = {
    val observed = writeObserved(
      df.withColumn("partition_id", spark_partition_id()),
      s"$outDir/extracted/run_id=$runId", maxRecordsPerFile,
      count(lit(1)).as("docs"),
      LineageCounters.column(
        col("partition_id"), col("n_bytes_in"), col("n_chars"), col("failure")).as("lineage"))
    val docs = observed("docs").asInstanceOf[Long]
    val lineage = observed("lineage").asInstanceOf[collection.Map[Int, collection.Seq[Long]]]
      .toSeq.sortBy(_._1)
      .map { case (p, c) => LineageRow(p, c(0), c(1), c(2), c(3), c(4), c(5), c(6), c(7)) }
    MetaParquet.writeLineage(s"$outDir/lineage/run_id=$runId",
      df.sparkSession.sparkContext.hadoopConfiguration, lineage)
    audit
    store.commit(runId, docs, fingerprint)
    docs
  }

  /** One lineage row (public: [[MetaParquet.writeLineage]] takes it): the
    * doc/byte counts and the failure taxonomy of one output partition. */
  final case class LineageRow(
      partition_id: Int, doc_count: Long, bytes_in: Long, chars_out: Long,
      n_ok: Long, n_empty: Long, n_unsupported: Long, n_parse_error: Long, n_oversize: Long)

  /** The lineage counters as an observable aggregate over
    * (partition_id, n_bytes_in, n_chars, failure): partition_id → [docs,
    * bytes in, chars out, then one count per [[graft.core.Failure.all]]
    * class]. A write task sees one partition_id, so the buffer holds one
    * entry per task; its arrays are bumped in place. Nulls count as a
    * groupBy's `sum` and `=== "ok"` would: a null byte or char count
    * reaches `reduce` as 0, a null `failure` is in no class. (Only a
    * partition whose counts are ALL null differs: 0 here, null from `sum`;
    * the kernel's counts are never null.) */
  private object LineageCounters
      extends Aggregator[(Int, Long, Int, String), Map[Int, Array[Long]], Map[Int, Array[Long]]] {
    private val nCounters = 3 + Failure.all.length
    def zero: Map[Int, Array[Long]] = Map.empty
    def reduce(b: Map[Int, Array[Long]], r: (Int, Long, Int, String)): Map[Int, Array[Long]] = {
      val known = b.get(r._1)
      val c = known.getOrElse(new Array[Long](nCounters))
      c(0) += 1; c(1) += r._2; c(2) += r._3
      val k = Failure.all.indexOf(r._4)
      if (k >= 0) c(3 + k) += 1
      if (known.isDefined) b else b.updated(r._1, c)
    }
    def merge(b1: Map[Int, Array[Long]], b2: Map[Int, Array[Long]]): Map[Int, Array[Long]] =
      b2.foldLeft(b1) { case (acc, (p, c2)) =>
        acc.get(p) match {
          case Some(c1) => for (i <- c1.indices) c1(i) += c2(i); acc
          case None => acc.updated(p, c2)
        }
      }
    def finish(b: Map[Int, Array[Long]]): Map[Int, Array[Long]] = b
    // derived once per JVM: Spark asks for these on every plan copy and task
    private val encoder: Encoder[Map[Int, Array[Long]]] = ExpressionEncoder[Map[Int, Array[Long]]]()
    def bufferEncoder: Encoder[Map[Int, Array[Long]]] = encoder
    def outputEncoder: Encoder[Map[Int, Array[Long]]] = encoder
    /** The aggregate as a column function of (partition_id, n_bytes_in, n_chars, failure). */
    val column = udaf(this)
  }

  /** Overwrite `path` with `df`; returns `metric`, observed on the write job
    * itself, and the written table read back with `df`'s schema (no
    * schema-inference job). */
  private[graft] def writeCounted(
      df: DataFrame, path: String, metric: Column = count(lit(1))): (Long, DataFrame) = {
    val v = writeObserved(df, path, 0L, metric.as("v"))("v").asInstanceOf[Long]
    (v, df.sparkSession.read.schema(df.schema).parquet(path))
  }

  /** Overwrite `path` with `df`, observing `metrics` (named aggregates) on
    * the write job itself — df.observe; a separate aggregation would be a
    * second scan. `maxRecordsPerFile` > 0 caps the rows per file. */
  private def writeObserved(
      df: DataFrame, path: String, maxRecordsPerFile: Long, metrics: Column*): Map[String, Any] = {
    val obs = Observation()
    val writer = df.observe(obs, metrics.head, metrics.tail: _*).write.mode(SaveMode.Overwrite)
    (if (maxRecordsPerFile > 0) writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer).parquet(path)
    obs.get
  }

  /** Compact every live committed run into ONE new run of target-sized
    * files — the parquet surrogate of Iceberg's `rewrite_data_files`
    * maintenance action. A long-lived incremental job accumulates many
    * small `run_id=N` files (each drain writes its own); at 10^12 rows the
    * scan cost is dominated by file-open overhead unless they are
    * periodically rewritten.
    *
    * Protocol (crash-safe):
    *  1. read all live runs, dedup by url (the reader contract);
    *  2. write the consolidated run and its lineage through [[commitRun]]
    *     (fanout capped by maxRecordsPerFile; the doc count is observed on
    *     the write, so runs that are all empty commit 0);
    *  3. COMMIT it with fingerprint `compaction:<src ids>` — the commit is
    *     the atomic supersession point: [[ParquetCheckpointStore]] treats
    *     runs named in a live compaction fingerprint as retired, so a
    *     crash before step 4 never double-counts (neither readExtracted
    *     nor readLineage sees old + new together);
    *  4. append the source ids to the `_retired` table (bookkeeping that
    *     also covers runs superseded by since-expired compactions).
    * Nothing is deleted or rewritten in place.
    *
    * `newDocs` is 0 — compaction rewrites, it never ingests. */
  def compact(
      spark: SparkSession, outDir: String, maxRecordsPerFile: Long = 0L): RunResult = {
    val store = new ParquetCheckpointStore(spark, outDir)
    val ids = store.committedRunIds()
    require(ids.nonEmpty, s"nothing to compact under $outDir")
    // the rows without their old partition_id: commitRun tags the new one
    val live = store.read("extracted", Encoders.product[ExtractedRow].schema, ids)
      .dropDuplicates("url")
    val runId = store.nextRunId()
    val docs = commitRun(store, outDir, runId, live,
      s"compaction:${ids.mkString("+")}", maxRecordsPerFile)(audit = ())
    store.retire(ids)
    RunResult(runId, docs, 0L)
  }

  /** Idempotent reader view over all committed runs: the [[ExtractedRow]]
    * columns plus `partition_id`, the schema [[commitRun]] writes. A store
    * with no committed run reads as zero files: empty, same columns. */
  def readExtracted(spark: SparkSession, outDir: String): DataFrame =
    new ParquetCheckpointStore(spark, outDir)
      .read("extracted", Encoders.product[ExtractedRow].schema.add("partition_id", IntegerType))
      .dropDuplicates("url")

  /** The lineage rows of every live committed run, with the [[LineageRow]]
    * schema they are written with; empty when none is committed. */
  def readLineage(spark: SparkSession, outDir: String): DataFrame =
    new ParquetCheckpointStore(spark, outDir).read("lineage", Encoders.product[LineageRow].schema)

  /** Salting-audit rows of every live committed run that has them, with the
    * [[HotHostRow]] schema they are written with. Compaction runs, stream
    * runs and pre-audit tables have none: skipped, not an error. With no
    * audited run the view is empty, same columns. */
  def readHotHosts(spark: SparkSession, outDir: String): DataFrame = {
    val store = new ParquetCheckpointStore(spark, outDir)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val audited = store.committedRunIds()
      .filter(id => fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/hot_hosts/run_id=$id")))
    store.read("hot_hosts", Encoders.product[HotHostRow].schema, audited)
  }
}

/** The run-level commit records (SURVEY §7.4.6): the parquet `_checkpoint`
  * and `_retired` tables here, Iceberg snapshots on a real cluster. */
final class ParquetCheckpointStore(spark: SparkSession, outDir: String) {
  private val path = s"$outDir/_checkpoint"
  private val hadoopConf = spark.sparkContext.hadoopConfiguration

  private val retiredPath = s"$outDir/_retired"

  // per-INSTANCE read cache of the (tiny) checkpoint/retired tables
  // (round-6 optimization): one ExtractJob.run consulted the store 4-5
  // times and each consult was its own Spark job over the same few-row
  // parquet — pure scheduler overhead. Instances are per-operation and
  // the store is SINGLE-WRITER by contract, so staleness is bounded to
  // this operation's own view; every mutation through this instance
  // invalidates, and commit() always re-reads FRESH for its
  // concurrent-writer recheck.
  //
  // All reads and writes here go through [[MetaParquet]] (round-6): these
  // are catalog-record operations — O(runs) rows of O(1) size — and a
  // Spark job per consult/append was pure scheduler overhead. The files
  // are byte-level ordinary parquet in the same layout Spark wrote, so
  // existing stores and external `spark.read.parquet` readers are
  // unaffected.
  private var rowsCache: Option[Array[(Long, String)]] = None
  private var retiredCache: Option[Set[Long]] = None

  private def checkpointRows(): Array[(Long, String)] = rowsCache.getOrElse {
    val rows = MetaParquet.readCheckpoint(path, hadoopConf)
    rowsCache = Some(rows)
    rows
  }

  private def retiredRunIds(): Set[Long] = retiredCache.getOrElse {
    val ids = MetaParquet.readRetired(retiredPath, hadoopConf)
    retiredCache = Some(ids)
    ids
  }

  private def allRunIds(): Seq[Long] = checkpointRows().map(_._1).toSeq.sorted

  /** LIVE runs: committed minus retired-by-compaction. */
  def committedRunIds(): Seq[Long] = {
    // a committed compaction atomically supersedes its source runs via its
    // fingerprint — the `_retired` table is only follow-up bookkeeping, so
    // a crash between commit and retire never double-counts
    val rows = checkpointRows()
    val supersededByFingerprint = rows.iterator
      .filter(_._2.startsWith("compaction:"))
      .flatMap(_._2.stripPrefix("compaction:").split('+'))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .toSet
    val retired = retiredRunIds() ++ supersededByFingerprint
    rows.map(_._1).toSeq.sorted.filterNot(retired)
  }

  // next id must clear RETIRED runs too — their directories still exist
  def nextRunId(): Long = allRunIds().lastOption.getOrElse(-1L) + 1L

  /** True if this run id was EVER committed, retired or live — the replay
    * guard for idempotent re-commits (a streaming WAL replays a batch under
    * its original id even after a compaction retired it). */
  def isCommitted(runId: Long): Boolean = allRunIds().contains(runId)

  /** Mark runs as superseded by a compaction (Iceberg: snapshot expiry). */
  def retire(runIds: Seq[Long]): Unit = {
    if (runIds.nonEmpty) {
      MetaParquet.appendRetired(retiredPath, hadoopConf, runIds)
      retiredCache = None
    }
  }

  /** The url column of every live run — a pruned scan; None when no run
    * is committed, so a fresh run plans no anti-join. */
  def committedUrls(): Option[DataFrame] = {
    val ids = committedRunIds()
    if (ids.isEmpty) None
    else Some(read("extracted", StructType.fromDDL("url STRING"), ids))
  }

  /** The committed per-run table `table` (`$outDir/$table/run_id=N`) of runs
    * `ids`, every live run by default, read with `schema`: the schema the
    * code writes the table with, as an Iceberg reader takes it from the
    * table's metadata. No schema-inference job; a file read makes every
    * field nullable. With no ids it reads zero files: an empty frame with
    * the same columns. */
  private[graft] def read(
      table: String, schema: StructType, ids: Seq[Long] = committedRunIds()): DataFrame =
    spark.read.schema(schema).parquet(ids.map(id => s"$outDir/$table/run_id=$id"): _*)

  /** Append the commit record of `runId`; `sourceFingerprint` must be
    * non-null (see [[MetaParquet.appendCommit]]). */
  def commit(runId: Long, docCount: Long, sourceFingerprint: String): Unit = {
    // the store is SINGLE-WRITER by design (like an Iceberg catalog without
    // a lock service); this recheck turns the worst outcome of two racing
    // drivers — both allocating the same run_id via nextRunId() and silently
    // overwriting each other's extracted/lineage directories — into a loud
    // failure at commit time (ADVICE r2). The recheck reads FRESH, never
    // the instance cache — that is the whole point of the recheck.
    rowsCache = None
    if (allRunIds().contains(runId))
      throw new IllegalStateException(
        s"run_id=$runId is already committed under $outDir — concurrent writer? " +
          "ParquetCheckpointStore assumes a single driver per outDir")
    val fresh = checkpointRows() // the recheck's fresh read, kept
    MetaParquet.appendCommit(path, hadoopConf,
      runId, docCount, sourceFingerprint, java.time.Instant.now.toString)
    // fold our own commit into the cache: a long-lived instance (the
    // streaming drains hold one per run()) sees its own commits without
    // re-reading; the NEXT commit's recheck still reads fresh above
    rowsCache = Some(fresh :+ (runId, sourceFingerprint))
  }
}
