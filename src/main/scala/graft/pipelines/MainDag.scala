package graft.pipelines

import org.apache.spark.sql.SparkSession

import graft.Schemas
import graft.ops.{Ddl, Sinks, Upsert}

/** The reference's main DAG (SURVEY.md §3.1 —
  * /root/reference/dags/kucoin_main_dag.py:59-64) as one composed batch
  * tick:
  *
  * {{{
  * create_tables
  *   → [ active_futures, active_spot_pairs, lending ]   (fan-out)
  *   → funding ingest (upsert)                          (fan-in)
  *   → funding stats rebuild (replace)
  * }}}
  *
  * Airflow passes state between tasks only through tables; here each
  * stage is a DataFrame write to the warehouse directory, and the
  * dependency edges are plain sequential composition — Spark parallelizes
  * INSIDE each stage (the fan-out stages share no data, so running them
  * serially costs only scheduling latency, not throughput, on a busy
  * cluster).
  *
  * One tick is idempotent end-to-end: DDL is create-if-not-exists,
  * dimension refreshes are atomic overwrites, funding ingest is a
  * newest-wins upsert, and the stats rebuild is a full replace — so a
  * retried tick (the reference's 5×-retry policy) converges to the same
  * state.
  *
  * A tick runs only the Spark jobs its tables need. The stage builders
  * return unordered frames (no sink keeps row order: the upsert's
  * `groupBy` re-shuffles and the overwrites are sets), so no range-sort
  * sampling job runs before a write; and [[TickResult]]'s counts come
  * from the written files' parquet footers ([[Sinks.rowCount]]), not
  * from re-reading each table.
  */
object MainDag {

  final case class TickResult(
      futures: Long, spotPairs: Long, lending: Long,
      fundingRows: Long, statsRows: Long)

  /** Run one 5-minute tick against fixture-derived feeds.
    *
    * @param warehouse output directory (the "Postgres" of the reference)
    * @param dir       fixture scale-factor directory (the "exchange API")
    */
  def runTick(spark: SparkSession, dir: String, warehouse: String): TickResult = {
    // 1. create_tables (kucoin_main_dag.py:30-32)
    Seq(
      "kucoin_lending_rates" -> Schemas.lendingRates,
      "kucoin_funding_rates" -> Schemas.fundingRates)
      .foreach { case (n, sch) => Ddl.ensureTable(spark, n, sch,
        Some(s"$warehouse/$n")) }

    // 2. fan-out: dimension refreshes + lending append (:34-45)
    val futures = DimensionRefresh.buildFutures(spark, dir)
    Sinks.overwriteParquet(futures, s"$warehouse/kucoin_active_futures")
    val spot = DimensionRefresh.buildSpot(spark, dir)
    Sinks.overwriteParquet(spot, s"$warehouse/kucoin_active_spot_pairs")
    val lending = Lending.build(spark, dir)
    Upsert.upsertParquet(lending, s"$warehouse/kucoin_lending_rates",
      keys = Seq("created_at", "loan_duration_days"), version = "created_at")

    // 3. fan-in: funding ingest, upsert on (symbol, funding_time) (:47-51)
    val funding = FundingStats.fundingRates(spark, dir)
      .select("symbol", "funding_period", "funding_time", "funding_rate")
    Upsert.upsertParquet(funding, s"$warehouse/kucoin_funding_rates",
      keys = Seq("symbol", "funding_time"), version = "funding_time")

    // 4. stats rebuild — replace sink (:53-57; funding_stats_etl.py:128)
    val stats = FundingStats.build(spark, dir)
    Sinks.overwriteParquet(stats, s"$warehouse/kucoin_funding_stats")

    def n(t: String): Long = Sinks.rowCount(spark, s"$warehouse/$t")
    TickResult(
      n("kucoin_active_futures"), n("kucoin_active_spot_pairs"),
      n("kucoin_lending_rates"), n("kucoin_funding_rates"),
      n("kucoin_funding_stats"))
  }
}
