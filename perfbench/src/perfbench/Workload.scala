package perfbench

import java.io.File
import java.util.Properties

import org.apache.spark.sql.SparkSession

/** What a workload runs against. */
final case class Ctx(spark: SparkSession, opts: Opts, gen: Gen,
    tracer: Option[Tracer], runner: OpRunner, work: File) {
  /** The end of the measured phase, on [[Clock]]. */
  def deadlineAfter(startMs: Double): Double = startMs + opts.seconds * 1000.0
}

trait Workload {
  def name: String
  /** Op kinds whose latency is the headline (`latency_*`). */
  def latencyKinds: Seq[String]
  /** Op kinds whose latency is `commit_p50_ms`. */
  def commitKinds: Seq[String]
  /** Report names of the headline and commit timings, with the unit the
    * headline is printed in: (headline, unit, ms per unit, commit). */
  def reportNames: (String, String, Double, Option[String])
  /** Op kinds the traced run reports spans and layer figures for. */
  def opKinds: Set[String]
  /** How a Spark job finds its op. */
  def opOf: Properties => Option[Long] = Tracer.byJobGroup
  /** Set up, measure for the run length, check outputs. */
  def run(ctx: Ctx, out: Outcome): Unit
  /** Workload-specific per-layer figures of a traced run. */
  def layers(tr: Tracer, out: Outcome): Map[String, Double]
}

object Workload {
  val all: Seq[Workload] = Seq(DagTick, LiveFunding, SnapshotMixed)
  def named(n: String): Option[Workload] = all.find(_.name == n)

  /** Relative comparison for doubles computed in a different order. */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-12 + 1e-9 * math.abs(b)

  def closeOpt(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => close(x, y)
    case (None, None) => true
    case _ => false
  }

  /** Time `body` in seconds on [[Clock]]. */
  def timedS(body: => Unit): Double = {
    val t0 = Clock.nowMs
    body
    (Clock.nowMs - t0) / 1000.0
  }
}
