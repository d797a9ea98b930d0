package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.pipelines.{FundingStats, MainDag}

/** End-to-end main-DAG tick (SURVEY §3.1): all five tables land, and a
  * retried tick converges to the same state (DDL idempotent, overwrites
  * atomic, upserts newest-wins, stats replaced) — the invariant behind
  * the reference's 5×-retry policy. A tick runs only the Spark jobs its
  * tables need, and its row counts are the tables' own. */
class MainDagSpec extends SparkSpec {

  /** Upper bound on the Spark jobs of a repeated tick at sf0.001: the
    * stage writes and the upserts' reads, with no range-sort sampling
    * before a sink and no job to count a written table. */
  private val MaxJobsPerTick = 13

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started (jobs tagged through a local property; a sentinel job
    * after `body` drains the listener bus before the count is read). */
  private def countingJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val Phase = "graft.test.phase"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(Phase)) match {
          case Some("counted") => jobs.incrementAndGet()
          case Some("sentinel") => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Phase, "counted")
      val out = try body finally sc.setLocalProperty(Phase, "sentinel")
      spark.range(1).count()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus not drained")
      (out, jobs.get())
    } finally {
      sc.setLocalProperty(Phase, null)
      sc.removeSparkListener(listener)
    }
  }

  test("one tick lands all five tables; a second tick is idempotent") {
    val wh = Files.createTempDirectory("dag-wh").toFile.getAbsolutePath
    val dir = "/root/testdata/sf0.001"
    val r1 = MainDag.runTick(spark, dir, wh)
    assert(r1.futures > 0 && r1.spotPairs > 0 && r1.lending > 0 &&
      r1.fundingRows > 0 && r1.statsRows > 0, r1.toString)

    val (r2, jobs) = countingJobs(MainDag.runTick(spark, dir, wh))
    assert(r2 === r1, "retried tick must converge to the same state")
    info(s"repeated tick: $jobs Spark jobs")
    assert(jobs <= MaxJobsPerTick,
      s"a repeated tick ran $jobs Spark jobs (at most $MaxJobsPerTick)")

    // each count is its table's row count as a full read sees it
    def read(t: String): Long = spark.read.parquet(s"$wh/$t").count()
    assert(r2 === MainDag.TickResult(
      read("kucoin_active_futures"), read("kucoin_active_spot_pairs"),
      read("kucoin_lending_rates"), read("kucoin_funding_rates"),
      read("kucoin_funding_stats")))

    // the stats table equals the flagship query's direct result
    val fromDag = spark.read.parquet(s"$wh/kucoin_funding_stats")
      .orderBy("symbol").collect().toSeq
    val direct = FundingStats.build(spark, dir)
      .orderBy("symbol").collect().toSeq
    assert(fromDag === direct)

    spark.sql("DROP TABLE IF EXISTS kucoin_lending_rates")
    spark.sql("DROP TABLE IF EXISTS kucoin_funding_rates")
  }
}
