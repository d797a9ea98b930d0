package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar function library — Spark expressions for every scalar transform
  * the reference performs (SURVEY.md §2.8, F1-F13). All built-ins, all
  * codegen-friendly; no UDFs anywhere (§2.10 policy: the reference's Python
  * lambdas are all expressible with `org.apache.spark.sql.functions`).
  */
object Fns {

  /** camelCase → snake_case, driver-side (for column names — the
    * reference's regex rename, active_futures_etl.py:59-61). */
  def toSnake(name: String): String =
    name.replaceAll("(?<!^)(?=[A-Z])", "_").toLowerCase

  /** Bulk schema rename: apply [[toSnake]] to every column (P4). Pure
    * driver-side metadata — no Catalyst node, no execution cost. */
  def snakeCaseColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(toSnake).toIndexedSeq: _*)

  /** camelCase → snake_case as a *data* function (F4):
    * `lower(regexp_replace(c, lookahead, "_"))`. */
  def snakeCaseCol(c: Column): Column =
    lower(regexp_replace(c, "(?<!^)(?=[A-Z])", "_"))

  /** Epoch milliseconds → timestamp (F5 — pd.to_datetime(unit="ms")). */
  def epochMillisToTs(c: Column): Column = timestamp_millis(c)

  /** Timestamp → "HH:mm:ss" time-of-day string (F6 — Spark has no TIME
    * type; the reference stores these as String columns too). */
  def timeOfDay(ts: Column): Column = date_format(ts, "HH:mm:ss")

  /** Truncate timestamp to whole seconds (F7 — `replace(microsecond=0)`). */
  def truncSecond(ts: Column): Column = date_trunc("second", ts)

  /** Ceiling-bucket a timestamp to the *next* interval boundary (F9 —
    * lending_data_etl.py:54-57: `(epoch // p + 1) * p`). Note: ceiling, not
    * floor — an exact boundary still rounds up to the following one,
    * matching the reference's `+ 1`. Integer arithmetic on epoch seconds
    * (no doubles), so it is exact for any representable timestamp. */
  def ceilBucket(ts: Column, intervalSeconds: Long): Column = {
    val p = lit(intervalSeconds * 1000000L) // interval in µs
    val x = unix_micros(ts)
    // x - x%p + p ≡ (x div p + 1) * p for x ≥ 0 — all long arithmetic,
    // exact for any timestamp (double division would not be).
    timestamp_micros(x - (x % p) + p)
  }

  /** Annualize a per-period rate (F12): ×periodsPerDay×365. */
  def annualize(rate: Column, periodsPerDay: Int): Column =
    rate * lit(periodsPerDay * 365.0)
}
