package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Stats

/** The reference's flagship analytics query (SURVEY.md §3.2):
  * funding-rate history → 120-day slice → per-symbol trailing means over six
  * horizons + latest value → join to the live futures dimension → annualize
  * → final projection.
  *
  * Reference shape (/root/reference/scripts/funding_stats_etl.py:63-128): a
  * driver-side Python loop per symbol doing six rolling passes and a join
  * *inside* the loop body. Spark shape: one window pass + one broadcast hash
  * join — a single shuffle on `symbol` end-to-end, which is the plan that
  * survives a 1000-executor / 100 TB scale-up (the fact side streams through
  * exactly one Exchange; the dimension side is broadcast).
  *
  * Fixtures stand in for the exchange API (FIXTURES.md §B): the `events`
  * table plays kucoin_funding_rates (user_id bucket → symbol, ts →
  * funding_time, value/1e4 → funding_rate) and a derived per-symbol
  * dimension plays kucoin_active_futures.
  */
object FundingStats {

  /** 3 funding sessions/day × 365 — the reference's annualization constant
    * (funding_stats_etl.py:78,93-94,102-104). */
  val AnnualFactor = 1095.0

  /** Fixed anchor standing in for `date.today()` so the query is
    * deterministic vs the oracle (FIXTURES.md determinism rules): anchor −
    * 120 days = 2024-01-16, slicing the fixtures' Jan-2024 range in half. */
  val AnchorDate = "2024-05-15"

  /** anchor − 120 days as nanos-since-epoch — the cutoff compared
    * against the NATIVE `ts` scan column ([[Tables.tsAtLeastNanos]]
    * renders it in the scanned type), so the predicate pushes down to
    * the parquet scan (row-group pruning). Equivalent to filtering the
    * converted timestamp: fixture timestamps are µs-precision, so the
    * sub-µs boundary window where the two could differ is empty. */
  private val cutoffNanos: Long =
    java.time.LocalDate.parse(AnchorDate).minusDays(120)
      .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000000L

  /** Synthesized funding-rate series (FIXTURES.md §B.kucoin_funding_rates),
    * pre-filtered to the 120-day window at the scan. */
  def fundingRates(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsRawTs(spark, dir)
    ev.filter(Tables.tsAtLeastNanos(ev, cutoffNanos))
      .withColumn("ts", Tables.tsTimestamp(ev))
      .select(
      concat(lit("SYM"), (col("user_id") % 20).cast("string"), lit("USDTM"))
        .as("symbol"),
      (col("user_id") % 20).cast("int").as("sym_num"),
      col("ts").as("funding_time"),
      lit("08:00:00").as("funding_period"),
      (col("value") / 10000.0).as("funding_rate"),
      // exact 2-dp decimal of the raw value: the deterministic summation
      // carrier for window means (see Stats scaladoc)
      col("value").cast("decimal(18,2)").as("value_dec"))
  }

  /** Synthesized futures dimension: one row per symbol with a predicted rate
    * and a 24h dollar volume, derived deterministically from the symbol
    * number (FIXTURES.md §B.kucoin_active_futures). */
  def futuresDim(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select((col("user_id") % 20).cast("int").as("sym_num"))
      .distinct()
      .select(
        concat(lit("SYM"), col("sym_num").cast("string"), lit("USDTM"))
          .as("symbol"),
        ((col("sym_num") + 1) / 10000.0).as("predicted_funding_fee_rate"),
        ((col("sym_num") + 1) * 1000.0).as("futures_dollar_volume_24h"))

  /** The full stats table: one row per symbol, reference output shape
    * (funding_stats_etl.py:105-118), unordered. The replace sink keeps
    * no row order, so ordering (by `symbol`) is the job of the callers
    * whose contract is row order — the `funding_stats` registry entry
    * and [[graft.SparkEntry.entry]]; a sort here would compute the
    * trailing window twice, once to sample the range and once to
    * shuffle. */
  def build(spark: SparkSession, dir: String): DataFrame = {
    val sliced = fundingRates(spark, dir)

    // One window pass: six horizon means (count-gated) + the latest rate.
    val stats = Stats.trailing(
      sliced, key = "symbol", time = "funding_time",
      value = col("value_dec"), horizons = Stats.referenceHorizons,
      latestCol = "latest_value")

    // Horizon means carry the raw `value` scale; rescale (÷1e4) and
    // annualize (×3×365) exactly as the reference does — constant-folded,
    // same operation order as the oracle SQL for bitwise parity.
    val horizonCols = Stats.referenceHorizons.map { h =>
      (col(h.name) / 10000.0 * AnnualFactor).as(h.name)
    }

    stats
      .join(broadcast(futuresDim(spark, dir)), Seq("symbol"), "inner")
      .select(
        Seq(
          col("symbol"),
          col("futures_dollar_volume_24h").as("dollar_volume_24h"),
          (col("predicted_funding_fee_rate") * AnnualFactor)
            .as("predicted_funding_rate"),
          (col("latest_value") / 10000.0 * AnnualFactor).as("funding_8h"))
          ++ horizonCols: _*)
  }

  /** DuckDB oracle for [[build]] ordered by `symbol` — same operation
    * order everywhere a double is produced, so the hash compare is
    * exact. */
  def oracleSql: String = {
    val horizonExprs = Stats.referenceHorizons.map { h =>
      val n = h.sessions
      s"""CASE WHEN count(*) OVER wall >= $n THEN
         |  CAST(sum(value_dec) OVER (wdesc ROWS BETWEEN CURRENT ROW AND ${n - 1} FOLLOWING) AS DOUBLE) / $n
         |END AS ${h.name}""".stripMargin
    }.mkString(",\n      ")
    val rescaled = Stats.referenceHorizons
      .map(h => s"${h.name} / 10000.0 * 1095.0 AS ${h.name}")
      .mkString(",\n    ")
    s"""WITH fr AS (
       |  SELECT concat('SYM', CAST(user_id % 20 AS VARCHAR), 'USDTM') AS symbol,
       |         CAST(user_id % 20 AS INT) AS sym_num,
       |         ts AS funding_time,
       |         value / 10000.0 AS funding_rate,
       |         CAST(value AS DECIMAL(18,2)) AS value_dec
       |  FROM events
       |  WHERE ts >= CAST(DATE '2024-05-15' - INTERVAL 120 DAY AS TIMESTAMP)
       |), dim AS (
       |  SELECT concat('SYM', CAST(sym_num AS VARCHAR), 'USDTM') AS symbol,
       |         (sym_num + 1) / 10000.0 AS predicted_funding_fee_rate,
       |         (sym_num + 1) * 1000.0 AS futures_dollar_volume_24h
       |  FROM (SELECT DISTINCT CAST(user_id % 20 AS INT) AS sym_num FROM events)
       |), w AS (
       |  SELECT symbol,
       |      row_number() OVER wdesc AS rn,
       |      CAST(value_dec AS DOUBLE) AS latest_value,
       |      $horizonExprs
       |  FROM fr
       |  WINDOW wdesc AS (PARTITION BY symbol ORDER BY funding_time DESC),
       |         wall AS (PARTITION BY symbol)
       |)
       |SELECT w.symbol,
       |    dim.futures_dollar_volume_24h AS dollar_volume_24h,
       |    dim.predicted_funding_fee_rate * 1095.0 AS predicted_funding_rate,
       |    latest_value / 10000.0 * 1095.0 AS funding_8h,
       |    $rescaled
       |FROM w JOIN dim ON w.symbol = dim.symbol
       |WHERE rn = 1
       |ORDER BY w.symbol""".stripMargin
  }
}
