package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming dedup and session windows — the two stateful stream shapes
  * the batch surface already covers (Dedup.keepFirst / ops.Sessionize)
  * re-expressed with native Structured Streaming state, so an ingest DAG
  * can dedup and sessionize without a foreachBatch round-trip. The dedup
  * is [[MicroBatch.dedupWithinWatermark]]; this object holds the
  * session windows.
  *
  * Scale shape (both): state is keyed and watermark-bounded — the
  * watermark is the contract that lets a 1000-executor cluster run these
  * forever without state growth; neither ever shuffles more than the
  * event's key columns + payload.
  */
object StreamDedup {

  /** Event-time session windows: activity separated by less than `gap`
    * merges into one session per key; a quiet period of `gap` closes it.
    * Append mode emits each session exactly once, after the watermark
    * passes its end — the streaming form of `ops.Sessionize`'s
    * lag/cumsum batch formulation.
    *
    * @param agg e.g. `count(lit(1)).as("n_events")`
    */
  def sessions(stream: DataFrame, timeCol: String, delay: String,
      gap: String, keys: Seq[String], agg: Column,
      aggs: Column*): DataFrame =
    stream.withWatermark(timeCol, delay)
      .groupBy(
        (session_window(col(timeCol), gap) +: keys.map(col)): _*)
      .agg(agg, aggs: _*)
      .withColumn("session_start", col("session_window.start"))
      .withColumn("session_end", col("session_window.end"))
      .drop("session_window")
}
