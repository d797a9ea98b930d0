package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for every suite (a per-suite SparkContext
  * would dominate test wall time). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started (jobs tagged through a local property; a sentinel job
    * after `body` drains the listener bus before the count is read). */
  def countingJobs[A](body: => A): (A, Int) = {
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
}
