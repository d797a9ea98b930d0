package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{MicroBatch, StreamDedup}

/** Streaming dedup + session-window semantics: within-watermark
  * duplicates drop, post-eviction re-occurrences re-admit (the bounded-
  * horizon contract), and session windows merge gap-adjacent activity,
  * emitting once on close. */
class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String) = Timestamp.valueOf(s)

  test("dropDuplicatesWithinWatermark: dups drop in-horizon, re-admit after eviction") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[RawLend]
    val deduped = MicroBatch.dedupWithinWatermark(
      mem.toDF().withColumnRenamed("observed_at", "ts"),
      timeCol = "ts", delay = "10 minutes", keys = Seq("term"))
    val q = deduped.writeStream
      .format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      mem.addData(RawLend(7, "0.4", t("2024-01-01 00:01:00")))
      q.processAllAvailable()
      // same key within the horizon: dropped
      mem.addData(RawLend(7, "0.5", t("2024-01-01 00:03:00")))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 1)

      // advance the watermark far past key 7's last-seen time → its
      // state evicts; the next occurrence is admitted again
      mem.addData(RawLend(9, "0.1", t("2024-01-01 01:00:00")))
      q.processAllAvailable()
      mem.addData(RawLend(7, "0.6", t("2024-01-01 01:01:00")))
      q.processAllAvailable()
      val rates = spark.table("dedup_out")
        .select("term", "rate").as[(Int, String)].collect().toSet
      assert(rates == Set((7, "0.4"), (9, "0.1"), (7, "0.6")))
    } finally q.stop()
  }

  test("session windows: gap-adjacent events merge, quiet period closes, emit-once") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[RawLend]
    val sessions = StreamDedup.sessions(
      mem.toDF().withColumnRenamed("observed_at", "ts"),
      timeCol = "ts", delay = "10 minutes", gap = "5 minutes",
      keys = Seq("term"),
      agg = count(lit(1)).as("n_events"))
    val q = sessions.writeStream
      .format("memory").queryName("sess_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      // three events, each within 5 min of the previous: one session
      mem.addData(
        RawLend(7, "a", t("2024-01-01 00:00:00")),
        RawLend(7, "b", t("2024-01-01 00:04:00")),
        RawLend(7, "c", t("2024-01-01 00:07:00")))
      q.processAllAvailable()
      assert(spark.table("sess_out").isEmpty) // not closed yet

      // >5 min quiet, then far-future event advances watermark → close
      mem.addData(RawLend(7, "d", t("2024-01-01 00:20:00")))
      mem.addData(RawLend(7, "e", t("2024-01-01 01:00:00")))
      q.processAllAvailable()
      val rows = spark.table("sess_out")
        .select("term", "session_start", "session_end", "n_events")
        .as[(Int, Timestamp, Timestamp, Long)].collect().toSet
      // first session: [00:00, 00:07+gap); second: [00:20, 00:25)
      assert(rows.contains(
        (7, t("2024-01-01 00:00:00"), t("2024-01-01 00:12:00"), 3L)))
      assert(rows.contains(
        (7, t("2024-01-01 00:20:00"), t("2024-01-01 00:25:00"), 1L)))
    } finally q.stop()
  }
}
