package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.Upsert

/** Structured-Streaming building blocks mapping the reference's polling
  * micro-batch model (SURVEY.md §2.9):
  *
  *   - Airflow's `schedule_interval=5min, catchup=False`
  *     (kucoin_main_dag.py:27-28) ≙ `Trigger.ProcessingTime("5 minutes")`.
  *   - per-tick pkey upsert tolerating re-delivery
  *     (funding_rates_etl.py:103-108) ≙ `foreachBatch` + newest-wins merge
  *     — idempotent, so checkpoint replay after failure re-applies batches
  *     harmlessly (exactly-once effect on the sink).
  *   - in-batch dedup (funding_rates_etl.py:93-95) ≙
  *     `dropDuplicatesWithinWatermark` — bounded state, unlike the
  *     reference's unbounded Postgres-side tolerance; the watermark bound
  *     is the semantic delta documented in SURVEY.md §2.9 (very-late rows
  *     are dropped here, upserted there).
  */
object MicroBatch {

  val FiveMinutes: Trigger = Trigger.ProcessingTime("5 minutes")

  /** Bounded-state streaming dedup on key columns. */
  def dedupWithinWatermark(stream: DataFrame, timeCol: String,
      delay: String, keys: Seq[String]): DataFrame =
    stream.withWatermark(timeCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Start an upsert sink: each micro-batch merges newest-wins into the
    * parquet table at `path` keyed by `keys`. `transform` runs per batch
    * (the reference's per-tick script body). */
  def upsertQuery(stream: DataFrame, path: String, checkpoint: String,
      keys: Seq[String], version: String,
      transform: DataFrame => DataFrame = identity,
      trigger: Trigger = FiveMinutes): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // probe the RAW batch: isEmpty runs the batch's plan as its own
        // Spark job (the source scan and any watermark dedup run again
        // in the merge), but probing transform(batch) would also run
        // the per-batch aggregation twice, once for isEmpty and once
        // for the merge
        if (!batch.isEmpty) Upsert.upsertParquet(transform(batch), path,
          keys, version)
      }
      .start()
}
