package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Options of one benchmark run. `tiny` shrinks every input; only the
  * self-test's smoke runs set it. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    tiny: Boolean,
    workDir: File,
    spanDir: File,
    programSrc: File)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      tiny = false,
      workDir = new File(need("work")),
      spanDir = new File(need("spans")),
      programSrc = new File(need("program-src")))
  }
}

/** Percentiles and the tail rule every timing is reported with. */
object Pct {
  /** Candidate tail percentiles, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank percentile `p`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest ladder percentile with at least `minBeyond` samples
    * beyond it, or None when even the median has fewer. */
  def tailPercentile(n: Int, minBeyond: Int = 10): Option[Double] =
    Ladder.filter(p => beyond(n, p) >= minBeyond).lastOption

  def nearestRank(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A timing summary: median, and the tail by the rule above. When no
    * ladder percentile qualifies (fewer than 20 samples) the tail is the
    * median itself and `ruleMet` is false. */
  final case class Summary(n: Int, p50: Double, tailP: Double,
      tail: Double, tailBeyond: Int, ruleMet: Boolean)

  def summary(xs: Seq[Double]): Summary = {
    require(xs.nonEmpty, "summary of no samples")
    tailPercentile(xs.size) match {
      case Some(p) =>
        Summary(xs.size, median(xs), p, nearestRank(xs, p), beyond(xs.size, p),
          ruleMet = true)
      case None =>
        val m = median(xs)
        Summary(xs.size, m, 50.0, m, xs.size / 2, ruleMet = false)
    }
  }
}

/** Minimal JSON rendering for the result and span lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Deterministic inputs: every generated value is a function of the
  * workload seed and the value's coordinates, so the same seed gives the
  * same inputs regardless of how far a run gets. */
final class Gen(seed: Long) {
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** A 64-bit hash of the seed and the coordinates. */
  def hash(xs: Long*): Long =
    xs.foldLeft(mix(seed ^ 0x9e3779b97f4a7c15L))((h, x) =>
      mix(h * 31 + x + 0x632be59bd9b4e019L))

  /** Uniform in [0, n). */
  def int(n: Int, xs: Long*): Int =
    java.lang.Math.floorMod(hash(xs: _*), n.toLong).toInt

  /** Uniform in [0, 1). */
  def unit(xs: Long*): Double = (hash(xs: _*) >>> 11) * (1.0 / (1L << 53))

  /** A sequential stream for choices made in order (op mixes). */
  def stream(salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(hash(salt, 0x5eedL))
}

object Files2 {
  def sizeOf(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)

  def deleteTree(p: File): Unit = if (p.exists()) {
    val walk = Files.walk(p.toPath)
    try {
      val all = new java.util.ArrayList[Path]()
      walk.forEach(x => all.add(x))
      all.sort(java.util.Comparator.reverseOrder())
      all.forEach(x => Files.deleteIfExists(x))
    } finally walk.close()
  }
}

/** What one workload run produced: timings per op kind, setup times,
  * error counts, and extra figures for the human-readable report. */
final class Outcome {
  /** (kind, latency ms, op id) of every measured sample. */
  val samples = mutable.ArrayBuffer.empty[(String, Double, Long)]
  val setupS = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  /** Human-readable extra figures: name -> (value, unit). */
  val extra = mutable.LinkedHashMap.empty[String, (Double, String)]

  def fail(msg: String): Unit = {
    failed += 1
    if (problems.size < 20) problems += msg
  }

  def times(kinds: String*): Seq[Double] =
    samples.collect { case (k, ms, _) if kinds.contains(k) => ms }.toSeq
}

/** Peak post-GC heap, sampled after each op. */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  @volatile private var peak = 0L

  def sample(): Unit = {
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    if (used > peak) peak = used
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
