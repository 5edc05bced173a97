package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full star-build spine: scan + epoch normalize + broadcast left-outer
    * join + projection (SURVEY.md §7.2). */
  def entry(spark: SparkSession): DataFrame =
    Queries.q09StarFlagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.relational ++ IngestQueries.queries ++ PipelineQueries.queries ++
      TextQueries.queries ++ DedupQueries.queries ++
      SimilarityQueries.queries ++ MultimodalQueries.queries ++
      WindowQueries.queries ++ ScaleQueries.queries ++ SampleQueries.queries ++
      CorpusPipelineQueries.queries ++ OlapQueries.queries ++
      RetrievalQueries.queries ++ ClusterQueries.queries ++
      GraphQueries.queries ++ SequenceQueries.queries ++ SpatialQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Queries.relationalOracle ++ IngestQueries.oracle ++ PipelineQueries.oracle ++
      TextQueries.oracle ++ DedupQueries.oracle ++
      SimilarityQueries.oracle ++ MultimodalQueries.oracle ++
      WindowQueries.oracle ++ ScaleQueries.oracle ++ SampleQueries.oracle ++
      CorpusPipelineQueries.oracle ++ OlapQueries.oracle ++
      RetrievalQueries.oracle ++ ClusterQueries.oracle ++
      GraphQueries.oracle ++ SequenceQueries.oracle ++ SpatialQueries.oracle
}
