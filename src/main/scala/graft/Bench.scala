package graft
import scala.util.control.NonFatal

/** Benchmark entrypoint: times every registered query at
  * `SPARK_GRAFT_SF_DIR` and emits ONE compact JSON line as the final stdout
  * line (plus a backstop file `BENCH_LOCAL.json`), for the round driver.
  *
  * Output-size note: the driver captures only a ~2000-char tail of stdout,
  * and the full 85-query map (~2.6 KB) exceeds it — BENCH_r01/r02 both came
  * back `parsed: null` because the last line's head was truncated. So the
  * full map goes to `BENCH_LOCAL.json` and an earlier stdout line, and the
  * ABSOLUTE LAST stdout line is a short summary (total + top-10 slowest
  * queries, < 500 chars) that always fits the tail window. Both lines print
  * AFTER `spark.stop()` so no executor shutdown logging can interleave.
  *
  * A query that throws in either measured pass has no honest time: it is
  * left out of `queries` and `total` and named in the `failed` list both
  * lines carry.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkEntry.localSession(cpus.toInt, "WARN",
      Map("spark.sql.adaptive.enabled" ->
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true")))
    // Warmup: execute EVERY registered query once, untimed, against the
    // smallest available scale factor (falling back to the target dir).
    // This pays JVM/codegen/classload costs per-plan before the measured
    // loop — without it those one-time costs land on whichever query runs
    // first (BENCH_r01 showed a 6x-inflated first query).
    val warmDir = {
      val tiny = sfDir.replaceAll("sf[0-9.]+/?$", "sf0.001")
      if (tiny != sfDir && new java.io.File(tiny).isDirectory) tiny else sfDir
    }
    SparkEntry.queries.foreach { case (_, fn) =>
      try { fn(spark, warmDir).count() } catch { case NonFatal(_) => () }
    }
    // Measured loop runs TWICE and reports the per-query MINIMUM: on a
    // shared box, transient host load lands on whichever pass it hits,
    // and three rounds of driver benches recorded 4-8x inflated
    // outliers for queries that re-measure clean in isolation. The min
    // of two independent passes is load-robust (both passes inflated by
    // the same transient is far less likely), while the real cost of a
    // genuinely slow query survives — a regression shows up in BOTH
    // passes. Wall cost is ~2x one pass, still minutes.
    val passes = (1 to 2).map { _ =>
      SparkEntry.queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        name -> (try {
          fn(spark, sfDir).count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case NonFatal(_) => None })
      }
    }
    val failed = passes.head.keys.filter(n => passes.exists(_(n).isEmpty))
      .toSeq.sorted
    val results = passes.head.keys.filterNot(failed.contains)
      .map(n => n -> passes.map(_(n).get).min).toMap
    val failedJson = failed.map(n => s""""$n"""").mkString("[", ",", "]")
    def sec(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s""""$k":${sec(v)}""" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val json =
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failedJson}"""
    try {
      val w = new java.io.PrintWriter("BENCH_LOCAL.json")
      try w.println(json) finally w.close()
    } catch { case NonFatal(_) => () }
    Tables.invalidate(spark) // drop cached plans with the stopped session
    spark.stop()
    println(json) // full per-query map: useful when the whole log is kept
    // Short summary LAST: total plus the 10 slowest queries, guaranteed to
    // fit the driver's bounded tail capture.
    val top = results.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => s""""$k":${sec(v)}""" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${sec(total)},"unit":"sec","n":${results.size},"queries":$top,"sf":"$sfDir","failed":$failedJson}""")
  }
}
