package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are assembled from per-module inventories; every entry carries
  * a DuckDB oracle unless genuinely non-SQL-expressible. */
object SparkEntry {

  def modules: Seq[QueryDef] =
    CoreQueries.all ++ graft.ops.EventOps.queries ++ graft.ops.TextStats.queries ++
      graft.ops.Sampling.queries ++ graft.ops.Dedup.queries ++
      graft.ops.Similarity.queries ++ graft.ops.Multimodal.queries ++
      graft.ops.Corpus.queries ++ graft.ops.Layout.queries ++ graft.ops.Pipeline.queries ++
      graft.ops.Cleaning.queries ++ graft.ops.Conversations.queries ++
      graft.ops.Preferences.queries ++ graft.ops.Chunking.queries ++
      graft.ops.Profiling.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q05_priority_revenue")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(q => q.name -> (q.fn _)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted only for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
