package graft.spark

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Bucketed (co-located) storage for repeated joins — the "bucketing for
  * co-located joins" scale tool: writing both sides of a recurring join
  * bucketed + sorted on the join key lets Spark plan a sort-merge join
  * with NO exchange on either side. At 10^12 rows that removes the
  * dominant shuffle from every downstream url-keyed join (extracted ⋈
  * labels, extracted ⋈ dedup verdicts, ...).
  *
  * This is the parquet-table analog of the Iceberg `bucket(N, url)`
  * partition transform the production plan targets (SURVEY §4.3): same
  * hash, same pruning/co-location contract, metastore-free. */
object Bucketing {

  /** Write `df` as a managed bucketed table (bucketed AND sorted by
    * `keyCol` so sort-merge joins skip both the exchange and the sort).
    * With `SaveMode.Append` the table's existing spec must MATCH — Spark
    * refuses a mismatched bucketBy/sortBy loudly (AnalysisException), so
    * a table can never silently mix bucket layouts. */
  def writeBucketed(
      df: DataFrame, table: String, keyCol: String, buckets: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .bucketBy(buckets, keyCol)
      .sortBy(keyCol)
      .format("parquet")
      .saveAsTable(table)
}
