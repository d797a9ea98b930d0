package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Sinks, Stats, Upsert}

/** The full main-DAG tail as ONE streaming stage (SURVEY.md §3.1 steps
  * update_funding_data → update_funding_stats): each micro-batch upserts
  * the new funding rows, then rebuilds the derived trailing-stats table
  * from the updated sink — exactly the reference's per-tick sequence, with
  * the inter-task Postgres tables replaced by the parquet sink.
  *
  * The rebuild is a full recompute per tick, like the reference's
  * to_sql(replace) (funding_stats_etl.py:128). It reads the whole funding
  * sink, with no time-window or partition filter, so its input grows with
  * the history the sink holds. The stats themselves need less: the
  * trailing horizons are row counts (the reference's longest is 270
  * sessions), so a symbol's stats depend only on its newest rows.
  */
object FundingStatsStream {

  def start(rawStream: DataFrame, fundingPath: String, statsPath: String,
      checkpoint: String,
      horizons: Seq[Stats.Horizon] = Stats.referenceHorizons,
      trigger: Trigger = MicroBatch.FiveMinutes): StreamingQuery = {
    val deduped = MicroBatch.dedupWithinWatermark(
      rawStream, "funding_time", "24 hours", Seq("symbol", "funding_time"))
    deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Upsert.upsertParquet(batch, fundingPath,
            keys = Seq("symbol", "funding_time"), version = "funding_time")
          val spark = batch.sparkSession
          val stats = Stats.trailing(
            spark.read.parquet(fundingPath),
            key = "symbol", time = "funding_time",
            value = col("funding_rate"),
            horizons = horizons, latestCol = "funding_8h")
          Sinks.overwriteParquet(stats, statsPath)
        }
      }
      .start()
  }
}
