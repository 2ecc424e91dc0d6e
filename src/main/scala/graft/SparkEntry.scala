package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 (declared inventory) and §3
  * (lifecycle). Each operator pack contributes `queries` (Spark DSL) and
  * `oracle` (equivalent DuckDB SQL); the driver hash-compares the two at
  * sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_basic")(spark, "/root/testdata/sf0.001")

  private val packs: Seq[(Map[String, Q], Map[String, String])] = Seq(
    (AggQueries.queries, AggQueries.oracle),
    (graft.sources.ScanQueries.queries, graft.sources.ScanQueries.oracle),
    (FilterQueries.queries, FilterQueries.oracle),
    (SortSetQueries.queries, SortSetQueries.oracle),
    (JoinQueries.queries, JoinQueries.oracle),
    (WindowQueries.queries, WindowQueries.oracle),
    (graft.functions.FnQueries.queries, graft.functions.FnQueries.oracle),
    (LlmQueries.queries, LlmQueries.oracle),
    (graft.functions.UdfQueries.queries, graft.functions.UdfQueries.oracle),
    (graft.streaming.StreamBatchQueries.queries, graft.streaming.StreamBatchQueries.oracle),
    (MultimodalQueries.queries, MultimodalQueries.oracle),
    (AnnQueries.queries, AnnQueries.oracle),
    (ReshapeQueries.queries, ReshapeQueries.oracle),
    (graft.etl.EtlQueries.queries, graft.etl.EtlQueries.oracle),
    (graft.sources.BucketQueries.queries, graft.sources.BucketQueries.oracle),
    (graft.sources.StatsQueries.queries, graft.sources.StatsQueries.oracle),
    (graft.streaming.StreamingDeclared.queries, graft.streaming.StreamingDeclared.oracle),
    (MiscQueries.queries, MiscQueries.oracle),
    (TsQueries.queries, TsQueries.oracle),
    (AnalyticsQueries.queries, AnalyticsQueries.oracle),
    (Ext6Queries.queries, Ext6Queries.oracle),
    (Ext7Queries.queries, Ext7Queries.oracle),
    (Ext8Queries.queries, Ext8Queries.oracle),
    (Ext9Queries.queries, Ext9Queries.oracle),
    (Ext10Queries.queries, Ext10Queries.oracle),
    (Ext11Queries.queries, Ext11Queries.oracle),
    (Ext12Queries.queries, Ext12Queries.oracle),
    (Ext13Queries.queries, Ext13Queries.oracle),
    (Ext14Queries.queries, Ext14Queries.oracle),
    (Ext15Queries.queries, Ext15Queries.oracle),
    (Ext16Queries.queries, Ext16Queries.oracle),
    (Ext17Queries.queries, Ext17Queries.oracle),
    (Ext18Queries.queries, Ext18Queries.oracle),
    (PipelineQueries.queries, PipelineQueries.oracle),
    (LakeQueries.queries, LakeQueries.oracle)
  )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = queryMap
  private lazy val queryMap = merged(packs.map(_._1))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = oracleMap
  private lazy val oracleMap = merged(packs.map(_._2))

  /** The union of the packs' maps; a key declared by two packs fails
    * instead of silently shadowing the other.
    */
  private[graft] def merged[V](maps: Seq[Map[String, V]]): Map[String, V] = {
    val dups = maps.flatMap(_.keys).groupBy(identity).collect { case (k, ks) if ks.size > 1 => k }
    require(dups.isEmpty, s"query keys declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    maps.foldLeft(Map.empty[String, V])(_ ++ _)
  }
}
