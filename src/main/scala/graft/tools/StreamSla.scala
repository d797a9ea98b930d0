package graft.tools

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.SparkEntry
import graft.ops.Stats
import graft.pipelines.MainDag
import graft.streaming.{AsOfEnrich, AsOfProbe, FundingStatsStream, KeyedObs}

/** Measures the streaming SLA the reference actually contracts — the
  * 5-minute tick (dags/kucoin_main_dag.py:27-28: schedule_interval
  * '*&#47;5', catchup=False) — and the per-trigger latency of the live
  * pipelines, producing the evidence rows for BASELINE.md:
  *
  *  1. `MainDag.runTick` wall time at the given sf dir, 3 ticks on one
  *     warehouse (tick 1 cold: DDL + first loads; ticks 2-3 the
  *     steady-state re-upsert a 5-minute cadence actually repeats).
  *  2. `FundingStatsStream` per-trigger latency under MemoryStream load
  *     (20 symbols × 50 observations per batch, 10 batches) — wall time
  *     per addData+processAllAvailable plus Spark's own
  *     triggerExecution durations from the progress log.
  *  3. `AsOfEnrich` per-trigger latency under two-stream load (refs +
  *     probes per batch, flatMapGroupsWithState path).
  *
  * Usage: runMain graft.tools.StreamSla [sfDir]
  */
object StreamSla {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(32)
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    // 1. the batch tick vs the 5-minute budget
    val wh = Files.createTempDirectory("graft_sla_wh").toString
    (1 to 3).foreach { i =>
      val t0 = System.nanoTime()
      val res = MainDag.runTick(spark, dir, wh)
      val s = secs(t0)
      println(f"STREAMSLA runTick,$i,$s%.2f s,budget=300 s,ok=${s < 300.0}" +
        s",fundingRows=${res.fundingRows},statsRows=${res.statsRows}")
    }

    // 2. FundingStatsStream: per-trigger wall time under load
    val base = Files.createTempDirectory("graft_sla_fss").toString
    val mem = MemoryStream[(String, Timestamp, Double)]
    val q = FundingStatsStream.start(
      mem.toDF().toDF("symbol", "funding_time", "funding_rate"),
      s"$base/funding", s"$base/stats", s"$base/ckpt",
      horizons = Stats.referenceHorizons,
      trigger = Trigger.ProcessingTime(0))
    val day = 86400L * 1000L
    (0 until 10).foreach { b =>
      val rows = for {
        sym <- 0 until 20
        k <- 0 until 50
      } yield (f"SYM$sym%02dUSDTM",
        new Timestamp(1704067200000L + b.toLong * 50 * 8 * 3600 * 1000L +
          k.toLong * 8 * 3600 * 1000L),
        1e-4 * ((sym + k + b) % 7))
      val t0 = System.nanoTime()
      mem.addData(rows: _*)
      q.processAllAvailable()
      println(f"STREAMSLA fundingStatsTrigger,${b + 1},${secs(t0)}%.2f s" +
        s",rows=${rows.length}")
    }
    val trigMs = q.recentProgress.toSeq
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
    if (trigMs.nonEmpty)
      println(s"STREAMSLA fundingStatsProgress,triggerExecution ms: " +
        s"median=${trigMs.sorted.apply(trigMs.size / 2)}" +
        s",max=${trigMs.max},n=${trigMs.size}")
    q.stop()

    // 3. AsOfEnrich: two-stream stateful enrichment per-trigger
    val probes = MemoryStream[AsOfProbe]
    val refs = MemoryStream[KeyedObs]
    val q2 = AsOfEnrich.enrich(probes.toDS(), refs.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("sla_asof_out")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime(0))
      .start()
    (0 until 10).foreach { b =>
      val t0ms = 1704067200000L + b.toLong * 3600 * 1000L
      val refRows = for (sym <- 0 until 20; k <- 0 until 20)
        yield KeyedObs(f"SYM$sym%02d",
          new Timestamp(t0ms + k * 180000L), k * 1.0)
      val probeRows = for (sym <- 0 until 20; k <- 0 until 10)
        yield AsOfProbe(f"SYM$sym%02d",
          new Timestamp(t0ms + k * 300000L + 1000L), k * 2.0)
      val t0 = System.nanoTime()
      refs.addData(refRows: _*)
      probes.addData(probeRows: _*)
      q2.processAllAvailable()
      println(f"STREAMSLA asOfEnrichTrigger,${b + 1},${secs(t0)}%.2f s" +
        s",refs=${refRows.length},probes=${probeRows.length}")
    }
    val trig2 = q2.recentProgress.toSeq
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
    if (trig2.nonEmpty)
      println(s"STREAMSLA asOfProgress,triggerExecution ms: " +
        s"median=${trig2.sorted.apply(trig2.size / 2)}" +
        s",max=${trig2.max},n=${trig2.size}")
    q2.stop()
    spark.stop()
  }
}
