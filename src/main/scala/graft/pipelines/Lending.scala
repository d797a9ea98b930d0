package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Schemas, Tables}
import graft.functions.Fns
import graft.ops.Conform

/** The lending-rate ingest pipeline (SURVEY.md §3.3 —
  * /root/reference/scripts/lending_data_etl.py): raw quotes → rename →
  * group-by-min per term → string→double cast → annualize ×365 →
  * observation timestamp ceiling-bucketed to the next 5-minute boundary →
  * final projection keyed (created_at, loan_duration_days).
  *
  * [[transform]] is the shared batch/streaming core: the streaming variant
  * (graft.streaming.LendingStream) applies the same function per
  * micro-batch — mirroring how the reference runs the same script every
  * 5-minute tick. One groupBy shuffle; everything else is narrow.
  */
object Lending {

  /** Core transform over raw lending quotes
    * (term, rate-as-string, observed_at).
    *
    * `loadTime` is the F8 wall-clock (lending_data_etl.py:53's load-time
    * `utcnow()`, ceiling-bucketed to the next 5-minute boundary): pass
    * `Some(current_timestamp())` in production for exact reference
    * semantics, or a fixed literal in tests. The default (None) stamps
    * the bucket of the newest observation per group instead — the
    * deterministic stand-in the oracle checks, since a wall-clock column
    * can never hash-match across engines or runs. */
  def transform(raw: DataFrame, loadTime: Option[Column] = None): DataFrame =
    raw
      .groupBy(col("term").as("loan_duration_days"))
      .agg(min(col("rate").cast("double")).as("daily_interest_rate"),
        max(col("observed_at")).as("__latest_obs"))
      .withColumn("created_at",
        Fns.ceilBucket(loadTime.getOrElse(col("__latest_obs")), 300))
      .drop("__latest_obs")
      .withColumn("annualized_interest_rate",
        Fns.annualize(col("daily_interest_rate"), 1))
      // declared-schema gate (SURVEY §1.2 drift guard): order, types and
      // required-column presence pinned to the catalog contract
      .transform(Conform.conform(_, Schemas.lendingRates))

  /** Production form of [[transform]]: reference-exact F8 semantics —
    * every tick's rows stamped with the (bucketed) load-time clock. */
  def transformAtLoadTime(raw: DataFrame): DataFrame =
    transform(raw, Some(current_timestamp()))

  /** Fixture adapter: events → raw lending quotes (term from user_id,
    * rate from value, stringly-typed as the API delivers it — F10). */
  def rawFromEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      (col("user_id") % 28 + 1).cast("int").as("term"),
      // stringly-typed rate, as the API delivers it (F10): decimal(18,6)
      // → string renders identically in every engine ("0.123456")
      (col("value") / 1000.0).cast("decimal(18,6)").cast("string").as("rate"),
      col("ts").as("observed_at"))

  /** The lending table over the fixture feed, unordered: the upsert
    * sink re-shuffles by key anyway, so ordering (by
    * `loan_duration_days`) is the registry entry's job
    * ([[graft.queries.PipelineQueries]]). */
  def build(spark: SparkSession, dir: String): DataFrame =
    transform(rawFromEvents(spark, dir))

  val oracleSql: String =
    """WITH raw AS (
      |  SELECT (user_id % 28 + 1)::INT AS term,
      |         CAST(CAST(value / 1000.0 AS DECIMAL(18,6)) AS VARCHAR) AS rate,
      |         CAST(ts AS TIMESTAMP) AS observed_at
      |  FROM events
      |), g AS (
      |  SELECT term AS loan_duration_days,
      |         min(CAST(rate AS DOUBLE)) AS daily_interest_rate,
      |         make_timestamp(epoch_us(max(observed_at))
      |           - epoch_us(max(observed_at)) % 300000000 + 300000000) AS created_at
      |  FROM raw GROUP BY term
      |)
      |SELECT created_at, daily_interest_rate, loan_duration_days,
      |       daily_interest_rate * 365.0 AS annualized_interest_rate
      |FROM g ORDER BY loan_duration_days""".stripMargin
}
