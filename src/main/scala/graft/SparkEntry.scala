package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_total_cost_per_customer")(spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Core.queries ++ graft.queries.Analytics.queries ++
      graft.queries.TextQueries.queries ++ graft.queries.VectorQueries.queries ++
      graft.queries.MultimodalQueries.queries ++
      graft.streaming.StreamingQueries.queries ++
      graft.streaming.StatefulSessionize.queries ++
      graft.streaming.StreamingDedup.queries ++
      graft.streaming.StreamStreamJoin.queries ++
      graft.streaming.StreamingUpsert.queries ++
      graft.streaming.StreamingIndexAppend.queries ++
      graft.streaming.TypeCensus.queries ++
      graft.streaming.TimerSessionize.queries ++
      graft.queries.OperatorQueries.queries ++
      graft.queries.HybridQueries.queries ++
      graft.queries.OpsQueries.queries
  /** The query-name filter of Bench, Verify and Inspect: `only` is a
    * comma-separated list of names or name prefixes ("q85,q94" picks
    * q85_… and q94_…; a full name picks itself), and None picks every
    * query. */
  def picks(only: Option[String])(name: String): Boolean =
    only.forall(_.split(",").exists(name.startsWith))
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Core.oracles ++ graft.queries.Analytics.oracles ++
      graft.queries.Analytics.oraclesAliased ++
      graft.queries.TextQueries.oracles ++ graft.queries.VectorQueries.oracles ++
      graft.queries.MultimodalQueries.oracles ++
      graft.streaming.StreamingQueries.oracles ++
      graft.streaming.StatefulSessionize.oracles ++
      graft.streaming.StreamingDedup.oracles ++
      graft.streaming.StreamStreamJoin.oracles ++
      graft.streaming.StreamingUpsert.oracles ++
      graft.streaming.StreamingIndexAppend.oracles ++
      graft.streaming.TypeCensus.oracles ++
      graft.streaming.TimerSessionize.oracles ++
      graft.queries.OperatorQueries.oracles ++
      graft.queries.HybridQueries.oracles ++
      graft.queries.OpsQueries.oracles
}
