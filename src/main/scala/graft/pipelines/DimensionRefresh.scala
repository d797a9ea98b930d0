package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Fns

/** Dimension-refresh pipelines (SURVEY.md §3.1 fan-out stage):
  * active-futures and active-spot-pairs, each a full atomic replace per
  * tick (reference: /root/reference/scripts/active_futures_etl.py,
  * active_spot_pairs_etl.py — TRUNCATE+COPY ≙ overwrite mode, Sinks.S8).
  *
  * Composes the cleanse layer: suffix/equality filters (P5/P6), snake
  * renames (P4), currency split (F2), XBT→BTC normalization (F3), epoch
  * millis → truncated timestamp (F5/F7), time-of-day strings (F6). All
  * narrow transforms — a dimension refresh never shuffles.
  */
object DimensionRefresh {

  /** Spot-pairs refresh over a raw ticker feed with
    * (symbol "BASE-QUOTE", volumes, fees). */
  def spotTransform(raw: DataFrame): DataFrame =
    raw
      .filter(col("symbol").endsWith("-USDT"))
      .withColumn("base_currency",
        expr("replace(split(symbol, '-')[0], 'XBT', 'BTC')"))
      .withColumn("quote_currency", expr("split(symbol, '-')[1]"))

  /** Futures refresh over a raw contract feed with epoch-millis open date
    * and next-funding time. */
  def futuresTransform(raw: DataFrame): DataFrame =
    raw
      .filter(col("symbol").endsWith("TM"))
      .withColumn("first_open_date",
        Fns.truncSecond(Fns.epochMillisToTs(col("first_open_ms"))))
      .withColumn("time_to_next_funding_rate",
        Fns.timeOfDay(Fns.epochMillisToTs(col("next_funding_ms"))))
      .drop("first_open_ms", "next_funding_ms")

  /** Fixture adapter for the spot feed: one ticker per customer, quote
    * currency alternating USDT/BTC, an XBT base for key 0 (F3 coverage). */
  def rawSpot(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      concat(
        when(col("c_custkey") % 50 === 0, "XBT")
          .otherwise(concat(lit("C"), (col("c_custkey") % 50).cast("string"))),
        lit("-"),
        when(col("c_custkey") % 2 === 0, "USDT").otherwise("BTC"))
        .as("symbol"),
      col("c_custkey").as("ticker_id"),
      (col("c_acctbal") * 100.0).as("spot_dollar_volume24h"))

  /** Fixture adapter for the futures feed: per-supplier contracts, epoch
    * millis synthesized deterministically. */
  def rawFutures(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir).select(
      concat(lit("SYM"), col("s_suppkey").cast("string"),
        when(col("s_suppkey") % 5 === 0, "USDT").otherwise("USDTM"))
        .as("symbol"),
      col("s_suppkey").as("contract_id"),
      (lit(1700000000000L) + col("s_suppkey") * 86400123L).as("first_open_ms"),
      (lit(1706000000000L) + col("s_suppkey") * 3600999L).as("next_funding_ms"))

  /** The spot-pairs table over the fixture feed, unordered: the sink
    * keeps no row order, so ordering (by `ticker_id`) is the registry
    * entry's job ([[graft.queries.PipelineQueries]]). */
  def buildSpot(spark: SparkSession, dir: String): DataFrame =
    spotTransform(rawSpot(spark, dir))

  /** The active-futures table over the fixture feed, unordered: ordering
    * (by `contract_id`) is the registry entry's job. */
  def buildFutures(spark: SparkSession, dir: String): DataFrame =
    futuresTransform(rawFutures(spark, dir))

  val spotOracleSql: String =
    """WITH raw AS (
      |  SELECT CASE WHEN c_custkey % 50 = 0 THEN 'XBT'
      |              ELSE 'C' || CAST(c_custkey % 50 AS VARCHAR) END
      |         || '-' ||
      |         CASE WHEN c_custkey % 2 = 0 THEN 'USDT' ELSE 'BTC' END AS symbol,
      |         c_custkey AS ticker_id,
      |         c_acctbal * 100.0 AS spot_dollar_volume24h
      |  FROM customer)
      |SELECT symbol, ticker_id, spot_dollar_volume24h,
      |       replace(split_part(symbol, '-', 1), 'XBT', 'BTC') AS base_currency,
      |       split_part(symbol, '-', 2) AS quote_currency
      |FROM raw WHERE ends_with(symbol, '-USDT')
      |ORDER BY ticker_id""".stripMargin

  val futuresOracleSql: String =
    """WITH raw AS (
      |  SELECT 'SYM' || CAST(s_suppkey AS VARCHAR) ||
      |         CASE WHEN s_suppkey % 5 = 0 THEN 'USDT' ELSE 'USDTM' END AS symbol,
      |         s_suppkey AS contract_id,
      |         1700000000000 + s_suppkey * 86400123 AS first_open_ms,
      |         1706000000000 + s_suppkey * 3600999 AS next_funding_ms
      |  FROM supplier)
      |SELECT symbol, contract_id,
      |       date_trunc('second', epoch_ms(first_open_ms)) AS first_open_date,
      |       strftime(epoch_ms(next_funding_ms), '%H:%M:%S') AS time_to_next_funding_rate
      |FROM raw WHERE ends_with(symbol, 'TM')
      |ORDER BY contract_id""".stripMargin
}
