package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{DocQueries, EmbeddingQueries, EventQueries, MultimodalQueries, PointCloudQueries, RelQueries, RelQueries2}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each operator group registers its queries + DuckDB oracle SQL in a
  * graft.queries.* object; this merges them. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    PointCloudQueries.queries("pc_bbox_large")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    PointCloudQueries.queries ++ DocQueries.queries ++
      EmbeddingQueries.queries ++ EventQueries.queries ++
      RelQueries.queries ++ RelQueries2.queries ++ MultimodalQueries.queries

  /** The subset a `SPARK_GRAFT_ONLY` value names (comma list; None =
    * every query). A name no registry defines is an error, so a typo
    * cannot turn a run into one that checks nothing. */
  def selected(only: Option[String]): Option[Set[String]] =
    only.map { list =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
      names
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    PointCloudQueries.oracleSql ++ DocQueries.oracleSql ++
      EmbeddingQueries.oracleSql ++ EventQueries.oracleSql ++
      RelQueries.oracleSql ++ RelQueries2.oracleSql ++ MultimodalQueries.oracleSql
}
