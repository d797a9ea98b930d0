package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.pipelines.{FundingStats, MainDag}

/** End-to-end main-DAG tick (SURVEY §3.1): all five tables land, and a
  * retried tick converges to the same state (DDL idempotent, overwrites
  * atomic, upserts newest-wins, stats replaced) — the invariant behind
  * the reference's 5×-retry policy. A tick runs only the Spark jobs its
  * tables need, and its row counts are the tables' own. Its stages run
  * concurrently under the caller's job group, and publish in DAG order:
  * a failed stage blocks only the tables downstream of it. */
class MainDagSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Bounds on the Spark jobs of a repeated tick at sf0.001: at most the
    * stage writes and the upserts' reads, with no range-sort sampling
    * before a sink and no job to count a written table; at least one
    * write per table, so jobs that lost the caller's local properties
    * cannot pass by counting zero. */
  private val MaxJobsPerTick = 13
  private val MinJobsPerTick = 5

  private val TableNames = Seq("kucoin_active_futures", "kucoin_active_spot_pairs",
    "kucoin_lending_rates", "kucoin_funding_rates", "kucoin_funding_stats")

  private def warehouse(): String =
    Files.createTempDirectory("dag-wh").toFile.getAbsolutePath

  private def dropDdl(): Unit = {
    spark.sql("DROP TABLE IF EXISTS kucoin_lending_rates")
    spark.sql("DROP TABLE IF EXISTS kucoin_funding_rates")
  }

  /** A table's data files as (name, size), hidden files left out. */
  private def files(wh: String, t: String): Set[(String, Long)] =
    new File(s"$wh/$t").listFiles().toSet
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(f => f.getName -> f.length)

  private def tickThreads(): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
      .filter(_.startsWith("graft-tick-"))

  /** Replace a table's files with one file that is not parquet. */
  private def corrupt(wh: String, t: String): Unit = {
    val d = new File(s"$wh/$t")
    d.listFiles().foreach(_.delete())
    Files.write(new File(d, "part-00000.parquet").toPath,
      "not a parquet file".getBytes("UTF-8"))
  }

  test("one tick lands all five tables; a second tick is idempotent") {
    val wh = warehouse()
    val r1 = MainDag.runTick(spark, dir, wh)
    assert(r1.futures > 0 && r1.spotPairs > 0 && r1.lending > 0 &&
      r1.fundingRows > 0 && r1.statsRows > 0, r1.toString)

    val (r2, jobs) = countingJobs(MainDag.runTick(spark, dir, wh))
    assert(r2 === r1, "retried tick must converge to the same state")
    info(s"repeated tick: $jobs Spark jobs")
    assert(jobs <= MaxJobsPerTick,
      s"a repeated tick ran $jobs Spark jobs (at most $MaxJobsPerTick)")
    assert(jobs >= MinJobsPerTick,
      s"a repeated tick counted $jobs Spark jobs (at least $MinJobsPerTick)")

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

    dropDdl()
  }

  test("every job of a tick carries the caller's job group; no tick thread outlives it") {
    val wh = warehouse()
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>")
        if (g == "dag-sentinel") drained.countDown() else groups.add(g)
      }
    }
    try {
      MainDag.runTick(spark, dir, wh)
      assert(tickThreads().isEmpty, tickThreads().toString)
      sc.addSparkListener(listener)
      sc.setJobGroup("dag-tick-under-test", "tick", interruptOnCancel = false)
      MainDag.runTick(spark, dir, wh)
      assert(tickThreads().isEmpty, tickThreads().toString)
      sc.setJobGroup("dag-sentinel", "sentinel", interruptOnCancel = false)
      spark.range(1).count()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus not drained")
      val seen = groups.asScala.toSeq
      assert(seen.size >= MinJobsPerTick, seen.toString)
      assert(seen.forall(_ == "dag-tick-under-test"), seen.toString)

      // a tick that throws leaves no tick thread either
      corrupt(wh, "kucoin_lending_rates")
      intercept[Exception](MainDag.runTick(spark, dir, wh))
      assert(tickThreads().isEmpty, tickThreads().toString)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      dropDdl()
    }
  }

  /** After a good tick, corrupt table `bad`; the next tick must throw
    * the read's own exception, republish every table in `lands`, and
    * leave every table in `keeps` exactly as it was. Once the
    * corruption is removed, a tick equals one on a clean warehouse. */
  private def failedStage(bad: String, lands: Seq[String],
      keeps: Seq[String]): Unit = {
    val wh = warehouse()
    try {
      val clean = MainDag.runTick(spark, dir, wh)
      corrupt(wh, bad)
      val readError = intercept[Exception](spark.read.parquet(s"$wh/$bad"))
      val before = TableNames.map(t => t -> files(wh, t)).toMap

      val thrown = intercept[Exception](MainDag.runTick(spark, dir, wh))
      assert(thrown.getClass === readError.getClass, thrown.toString)
      lands.foreach(t => assert((files(wh, t) & before(t)).isEmpty,
        s"$t was not republished"))
      keeps.foreach(t => assert(files(wh, t) === before(t),
        s"$t changed although a stage upstream of it failed"))
      assert(files(wh, bad) === before(bad))

      FileUtils.deleteDirectory(new File(s"$wh/$bad"))
      assert(MainDag.runTick(spark, dir, wh) === clean)
    } finally dropDdl()
  }

  test("a failed fan-out stage: its siblings land, funding and stats keep their files") {
    failedStage("kucoin_lending_rates",
      lands = Seq("kucoin_active_futures", "kucoin_active_spot_pairs"),
      keeps = Seq("kucoin_funding_rates", "kucoin_funding_stats"))
  }

  test("a failed funding stage: the fan-out lands, stats keeps its files") {
    failedStage("kucoin_funding_rates",
      lands = Seq("kucoin_active_futures", "kucoin_active_spot_pairs",
        "kucoin_lending_rates"),
      keeps = Seq("kucoin_funding_stats"))
  }
}
