package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  *
  * Aggregates the per-module query catalogs; each module owns its
  * Spark implementations and their DuckDB oracle SQL.
  */
object SparkEntry {

  /** Where each oracle SQL reads the kernel outputs that
    * `graft.Verify` dumps; Verify rewrites it to the dump's actual
    * directory. A placeholder, never a path the engine writes to, so
    * `oracle_sql.json` does not depend on its value. */
  final val AuxToken = "<verify_aux>"

  private def modules: Seq[Query] =
    operators.Relational.queries ++
      operators.TextOps.queries ++
      operators.Corpus.queries ++
      operators.GridOps.queries ++
      operators.VectorSearch.queries ++
      operators.Hybrid.queries ++
      operators.Dedup.queries ++
      operators.Multimodal.queries ++
      sources.VersionedStore.queries ++
      streaming.Streams.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0: end-to-end semantic search (chunk -> embed -> cosine
    * top-10 with provenance links), the reference's core lifecycle. */
  def entry(spark: SparkSession): DataFrame =
    operators.VectorSearch.searchE2E(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
