package graft.spark

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.InputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Driver-side parquet I/O for the few-row METADATA tables of the commit
  * protocol (`_checkpoint`, `_retired`, the per-run `hot_hosts` audit and
  * the per-run `lineage` rows, whose counts are observed on the extracted
  * write — see [[ExtractJob.commitRun]]).
  *
  * Why not Spark (round-6 optimization, guide §5 "the driver should do
  * almost no data work" — and its dual: Spark should do no DRIVER work):
  * these tables are O(runs) rows of O(1) size — the parquet surrogate of
  * Iceberg CATALOG records. Reading one through `spark.read.parquet(...)
  * .collect()` or writing three rows through a LocalTableScan job costs a
  * full scheduler round-trip (~0.1-0.2 s each); one `ExtractJob.run`
  * performs five such metadata operations, so the fixed protocol overhead
  * was dominated by job scheduling, not I/O. On a real cluster each of
  * these is a catalog call, never a distributed job.
  *
  * File-format compatibility is the contract here, in BOTH directions:
  *  - files written by these helpers are plain parquet files inside the
  *    same directories, with the same column names/types Spark used to
  *    write, so `spark.read.parquet` (the x34 audit reader, the lineage
  *    tooling) sees an identical table;
  *  - the readers resolve columns BY NAME from each file's own schema, so
  *    directories containing Spark-written files (pre-existing stores,
  *    mixed histories) read identically.
  * Writes append a uniquely-named `part-<uuid>.parquet` (never clobbering
  * concurrent history); "overwrite" semantics delete the directory first,
  * exactly like the SaveMode.Overwrite they replace.
  *
  * Per-file cost: a read opens every file of the table, and `_checkpoint`
  * gains one file per commit. Each open goes through the caller's
  * `Configuration` and the `FileStatus` of the directory listing, so it
  * costs 0.5–0.8 ms of driver CPU on a local file system. Opening through
  * parquet's `Path` builder cost 11–16 ms per file, almost all of it
  * Hadoop re-parsing its default XML resources into a throwaway
  * `Configuration`. */
object MetaParquet {

  private val checkpointSchema: MessageType = MessageTypeParser.parseMessageType(
    """message checkpoint {
      |  required int64 run_id;
      |  required int64 doc_count;
      |  optional binary source_fingerprint (UTF8);
      |  optional binary committed_at (UTF8);
      |}""".stripMargin)

  private val retiredSchema: MessageType = MessageTypeParser.parseMessageType(
    "message retired { required int64 run_id; }")

  // mirrors the Dataset[HotHostRow] parquet schema (String/boxed-Double
  // nullable, primitives required) so multi-run audit reads merge cleanly
  private val hotHostSchema: MessageType = MessageTypeParser.parseMessageType(
    """message hot_hosts {
      |  required int64 run_id;
      |  optional binary host (UTF8);
      |  optional double est_fraction;
      |  required boolean salted;
      |}""".stripMargin)

  // the schema Spark wrote for `groupBy(partition_id).agg(count, sum...)`
  // over the read-back extracted files: the count non-null; the key (a
  // file-source column, read back as nullable) and every sum nullable
  private val lineageSchema: MessageType = MessageTypeParser.parseMessageType(
    """message lineage {
      |  optional int32 partition_id;
      |  required int64 doc_count;
      |  optional int64 bytes_in;
      |  optional int64 chars_out;
      |  optional int64 n_ok;
      |  optional int64 n_empty;
      |  optional int64 n_unsupported;
      |  optional int64 n_parse_error;
      |  optional int64 n_oversize;
      |}""".stripMargin)

  private def fs(dir: String, conf: Configuration): FileSystem =
    new Path(dir).getFileSystem(conf)

  /** Crash-atomic file append: the rows are written to a DOT-prefixed temp
    * name (hidden — skipped by [[dataFiles]] AND by Spark's own reader),
    * then renamed to its final `part-<uuid>.parquet` name only after the
    * footer is on disk. A crash mid-write therefore leaves an invisible
    * `.tmp` orphan, never a truncated visible file — the same guarantee
    * the Spark committer's `_temporary` + rename protocol provided for
    * these dirs before (review finding: a direct-at-final-path write
    * would have bricked every later read of the store on a mid-write
    * driver kill). Rename is atomic on HDFS and local fs. */
  private def writeFile(
      dir: String, schema: MessageType, conf: Configuration)(
      rows: SimpleGroupFactory => Iterator[Group]): Unit = {
    val uuid = java.util.UUID.randomUUID
    val tmp = new Path(dir, s".part-$uuid.parquet.tmp")
    val fin = new Path(dir, s"part-$uuid.parquet")
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows(new SimpleGroupFactory(schema)).foreach(w.write)
    finally w.close()
    if (!fs(dir, conf).rename(tmp, fin))
      throw new java.io.IOException(s"rename $tmp -> $fin failed")
  }

  /** Every data file of a metadata dir (skips _SUCCESS and hidden files);
    * empty when the dir does not exist. The layout must be flat: a visible
    * subdirectory (a table written with partitionBy, say) throws, because
    * reading it as empty would let `nextRunId` reuse a committed id. */
  private def dataFiles(dir: String, conf: Configuration): Seq[FileStatus] = {
    val f = fs(dir, conf)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq
      .filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }
      .map { st =>
        if (st.isDirectory)
          throw new IllegalStateException(
            s"metadata dir $dir has a subdirectory ${st.getPath.getName}; its layout must be flat")
        st
      }
  }

  private final class GroupReaderBuilder(file: InputFile) extends ParquetReader.Builder[Group](file) {
    override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
  }

  private def foreachRow(dir: String, conf: Configuration)(f: Group => Unit): Unit =
    dataFiles(dir, conf).foreach { st =>
      // not ParquetReader.builder(_, path): it builds a fresh Configuration
      // per file, which re-parses Hadoop's default XML resources
      val r = new GroupReaderBuilder(HadoopInputFile.fromStatus(st, conf)).build()
      try {
        var g = r.read()
        while (g != null) { f(g); g = r.read() }
      } finally r.close()
    }

  /** (run_id, source_fingerprint) of every committed run; a record without
    * a fingerprint (possible only in Spark-written stores) reads as "". */
  def readCheckpoint(dir: String, conf: Configuration): Array[(Long, String)] = {
    val out = Array.newBuilder[(Long, String)]
    foreachRow(dir, conf) { g =>
      val fp =
        if (g.getFieldRepetitionCount("source_fingerprint") > 0)
          g.getString("source_fingerprint", 0)
        else ""
      out += ((g.getLong("run_id", 0), fp))
    }
    out.result()
  }

  def readRetired(dir: String, conf: Configuration): Set[Long] = {
    val out = Set.newBuilder[Long]
    foreachRow(dir, conf)(g => out += g.getLong("run_id", 0))
    out.result()
  }

  /** Append ONE commit record (the store's SaveMode.Append equivalent).
    * The fingerprint must be non-null: it is how a compaction names the
    * runs it supersedes. */
  def appendCommit(
      dir: String, conf: Configuration,
      runId: Long, docCount: Long, fingerprint: String, committedAt: String): Unit = {
    require(fingerprint != null, s"run_id=$runId: source fingerprint must be non-null")
    writeFile(dir, checkpointSchema, conf) { f =>
      val g = f.newGroup()
      g.add("run_id", runId)
      g.add("doc_count", docCount)
      g.add("source_fingerprint", fingerprint)
      g.add("committed_at", committedAt)
      Iterator.single(g)
    }
  }

  def appendRetired(dir: String, conf: Configuration, runIds: Seq[Long]): Unit = {
    if (runIds.isEmpty) return
    writeFile(dir, retiredSchema, conf) { f =>
      runIds.iterator.map { id => val g = f.newGroup(); g.add("run_id", id); g }
    }
  }

  /** Replace `dir` with one file of `rows` (the SaveMode.Overwrite it
    * replaces): written even when empty, so readers see a stable schema for
    * every committed run. */
  private def overwriteFile(
      dir: String, schema: MessageType, conf: Configuration)(
      rows: SimpleGroupFactory => Iterator[Group]): Unit = {
    val f = fs(dir, conf)
    val p = new Path(dir)
    if (f.exists(p)) f.delete(p, true)
    writeFile(dir, schema, conf)(rows)
  }

  /** Overwrite the per-run salting-audit table. */
  def writeHotHosts(
      dir: String, conf: Configuration, rows: Seq[ExtractJob.HotHostRow]): Unit =
    overwriteFile(dir, hotHostSchema, conf) { gf =>
      rows.iterator.map { r =>
        val g = gf.newGroup()
        g.add("run_id", r.run_id)
        if (r.host != null) g.add("host", r.host)
        if (r.est_fraction != null) g.add("est_fraction", r.est_fraction.doubleValue)
        g.add("salted", r.salted)
        g
      }
    }

  /** Overwrite the per-run lineage table: one row per output partition,
    * the same columns, types and nullability as the Spark-written tables of
    * earlier runs, so [[ExtractJob.readLineage]] reads both as one table. */
  def writeLineage(
      dir: String, conf: Configuration, rows: Seq[ExtractJob.LineageRow]): Unit =
    overwriteFile(dir, lineageSchema, conf) { gf =>
      rows.iterator.map { r =>
        val g = gf.newGroup()
        g.add("partition_id", r.partition_id)
        g.add("doc_count", r.doc_count)
        g.add("bytes_in", r.bytes_in)
        g.add("chars_out", r.chars_out)
        g.add("n_ok", r.n_ok)
        g.add("n_empty", r.n_empty)
        g.add("n_unsupported", r.n_unsupported)
        g.add("n_parse_error", r.n_parse_error)
        g.add("n_oversize", r.n_oversize)
        g
      }
    }
}
