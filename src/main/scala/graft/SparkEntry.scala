package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipelines.FundingStats
import graft.queries.QueryDef

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 gets an entry in [[queries]]
  * (DataFrame implementation, reading parquet fixtures from the given sf
  * dir) and, when SQL-expressible, a matching entry in [[oracleSql]] (ANSI
  * SQL DuckDB runs over the same parquet tables; column names and value
  * arithmetic mirror the Spark side exactly for hash parity).
  */
object SparkEntry {

  /** The local session every dev main runs on: `cpus` task slots and
    * shuffle partitions, UTC session time (so printed timestamps match
    * across mains and hosts), the graft extensions, no UI. */
  def localSession(cpus: Int, logLevel: String = "ERROR",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Flagship query on /root/testdata/sf0.001, ordered by symbol;
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    FundingStats.build(spark, "/root/testdata/sf0.001").orderBy("symbol")

  private def registry: Seq[QueryDef] =
    Seq(QueryDef("funding_stats",
      (s: SparkSession, dir: String) =>
        FundingStats.build(s, dir).orderBy("symbol"),
      FundingStats.oracleSql)) ++
      graft.queries.CleanseQueries.all ++
      graft.queries.AggQueries.all ++
      graft.queries.TimeSeriesQueries.all ++
      graft.queries.JoinQueries.all ++
      graft.queries.TextQueries.all ++
      graft.queries.SimilarityQueries.all ++
      graft.queries.PipelineQueries.all ++
      graft.queries.SinkQueries.all

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.impl).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap
}
