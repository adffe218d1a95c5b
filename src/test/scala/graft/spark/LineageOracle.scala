package graft.spark

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The lineage rows as a Spark `groupBy(partition_id)` computes them over
  * the written `extracted/run_id=N` files — how lineage was written before
  * its counters were observed on the extracted write. Specs compare the
  * committed lineage against it row for row. */
object LineageOracle {

  val columns: Seq[String] = Seq("partition_id", "doc_count", "bytes_in", "chars_out",
    "n_ok", "n_empty", "n_unsupported", "n_parse_error", "n_oversize")

  def agg(written: DataFrame): DataFrame =
    written
      .groupBy(col("partition_id"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum("n_bytes_in").as("bytes_in"),
        sum("n_chars").as("chars_out"),
        sum(when(col("failure") === "ok", 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("failure") === "empty", 1L).otherwise(0L)).as("n_empty"),
        sum(when(col("failure") === "unsupported_payload", 1L).otherwise(0L)).as("n_unsupported"),
        sum(when(col("failure") === "parse_error", 1L).otherwise(0L)).as("n_parse_error"),
        sum(when(col("failure") === "oversize", 1L).otherwise(0L)).as("n_oversize"))

  /** `lineage` in partition_id order, one Seq per row. */
  def rows(lineage: DataFrame): Seq[Seq[Any]] =
    lineage.select(columns.map(col): _*).orderBy("partition_id")
      .collect().toSeq.map((r: Row) => r.toSeq)

  /** Oracle rows of run `runId` under `outDir`. */
  def expected(spark: SparkSession, outDir: String, runId: Long): Seq[Seq[Any]] =
    rows(agg(spark.read.parquet(s"$outDir/extracted/run_id=$runId")))

  /** Committed lineage rows of run `runId` under `outDir`. */
  def committed(spark: SparkSession, outDir: String, runId: Long): Seq[Seq[Any]] =
    rows(spark.read.parquet(s"$outDir/lineage/run_id=$runId"))
}
