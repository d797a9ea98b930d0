package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.ops.Stats
import graft.streaming.FundingStatsStream

/** `live_funding`: an open loop feeding `FundingStatsStream` through a
  * `MemoryStream`, trigger `ProcessingTime(0)`.
  *
  * The generator offers one group of rows every `groupMs` on a fixed
  * schedule, whether or not the stream keeps up; `groupsPerSession`
  * groups make one funding session of 20 symbols (a compressed 8-hour
  * tick). Each group also re-delivers a share of the previous session's
  * rows unchanged (duplicates the watermark dedup must drop) and
  * delivers rows held back from two sessions earlier (out of order, but
  * inside the 24-hour watermark). Freshness is timed from when a group
  * was due to the progress event of the micro-batch that committed it,
  * so queue wait is included. */
object LiveFunding extends Workload {
  val name = "live_funding"
  val latencyKinds = Seq("freshness")
  val commitKinds = Seq("trigger")
  val reportNames = ("freshness", "ms", 1.0, Some("trigger"))
  val opKinds = Set("trigger")
  override def opOf = Tracer.byBatchId

  val Symbols = 20
  val SessionMs: Long = 8L * 3600 * 1000
  val BaseMs: Long = java.time.Instant.parse("2024-01-20T00:00:00Z").toEpochMilli
  val SetupReps = 3
  val DuplicateShare = 0.10
  val LateShare = 0.10

  /** history: sessions fed before the run; groupMs: offer period. */
  final case class Size(history: Int, groupMs: Int, groupsPerSession: Int)
  def size(tiny: Boolean): Size =
    if (tiny) Size(history = 12, groupMs = 100, groupsPerSession = 4)
    else Size(history = 300, groupMs = 100, groupsPerSession = 4)

  type R = (String, Timestamp, Double)

  def symbol(sym: Int): String = f"SYM$sym%02dUSDTM"

  /** Seeded rows: the rate of a key never changes, so a re-delivery is an
    * exact duplicate. */
  final class Feed(gen: Gen, sz: Size) {
    /** Distinct keys delivered so far: (symbol, session) -> rate. */
    val delivered = mutable.HashMap.empty[(Int, Int), Double]
    /** Keys held back, owed two sessions later. */
    private val owed = mutable.LinkedHashSet.empty[(Int, Int)]

    def rate(sym: Int, s: Int): Double = (gen.int(4001, 20, s, sym) - 2000) * 1e-6
    def late(sym: Int, s: Int): Boolean = gen.unit(21, s, sym) < LateShare
    def dup(sym: Int, s: Int): Boolean = gen.unit(22, s, sym) < DuplicateShare

    private def row(key: (Int, Int)): R = {
      val (sym, s) = key
      delivered(key) = rate(sym, s)
      owed -= key
      (symbol(sym), new Timestamp(BaseMs + s * SessionMs), rate(sym, s))
    }

    /** Sessions [0, n) in one batch: the pre-built history. */
    def history(n: Int): Seq[R] =
      for (s <- 0 until n; sym <- 0 until Symbols) yield row((sym, s))

    /** Group `g` of session `s` (sessions after the history): its
      * on-time rows, duplicates of the previous session, and the rows
      * of this group held back two sessions ago. */
    def group(s: Int, g: Int): Seq[R] = {
      val mine = (0 until Symbols).filter(_ % sz.groupsPerSession == g)
      val (held, onTime) = mine.map(sym => (sym, s)).partition {
        case (sym, _) => late(sym, s)
      }
      val dups = mine.map(sym => (sym, s - 1))
        .filter(k => dup(k._1, k._2) && delivered.contains(k))
      val due = mine.map(sym => (sym, s - 2)).filter(owed.contains)
      owed ++= held
      (onTime ++ dups ++ due).map(row)
    }

    /** Everything still held back, delivered at the end of the run. */
    def flush(): Seq[R] = owed.toSeq.map(row)
  }

  /** Progress events of one query, stamped on arrival. */
  final class Progress(queryId: () => java.util.UUID) extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(Double, StreamingQueryProgress, Map[String, Long])]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val now = Clock.nowMs
      val id = queryId()
      if (id != null && e.progress.id == id) {
        events.add((now, e.progress, Storage.snapshot()))
        Heap.sample()
      }
    }
  }

  def endOffset(p: StreamingQueryProgress): Long =
    p.sources.headOption.map(_.endOffset).filter(_ != null)
      .map(_.trim.stripPrefix("\"").stripSuffix("\"").toLong).getOrElse(-1L)

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  final class Stream(spark: SparkSession, dir: File) {
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[R]
    val funding = new File(dir, "funding").getPath
    val stats = new File(dir, "stats").getPath
    val query: StreamingQuery = FundingStatsStream.start(
      mem.toDF().toDF("symbol", "funding_time", "funding_rate"),
      funding, stats, new File(dir, "checkpoint").getPath,
      trigger = Trigger.ProcessingTime(0))

    /** Offer rows; the MemoryStream offset that holds them. */
    def offer(rows: Seq[R]): Long =
      mem.addData(rows).json().trim.toLong
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val sz = size(ctx.opts.tiny)
    @volatile var current: Stream = null
    val progress = new Progress(() =>
      if (current == null) null else current.query.id)
    spark.streams.addListener(progress)
    var feed: Feed = null
    try {
      (1 to SetupReps).foreach { rep =>
        if (current != null) current.query.stop()
        feed = new Feed(ctx.gen, sz)
        out.setupS += Workload.timedS {
          current = new Stream(spark, new File(ctx.work, s"stream_$rep"))
          current.offer(feed.history(sz.history))
          current.query.processAllAvailable()
        }
      }
      val st = current
      var session = sz.history
      // (due ms, offered ms, offset)
      val offers = mutable.ArrayBuffer.empty[(Double, Double, Long)]
      val t0 = Clock.nowMs
      val deadline = ctx.deadlineAfter(t0)
      var g = 0L
      while (t0 + g * sz.groupMs < deadline) {
        val due = t0 + g * sz.groupMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val gi = (g % sz.groupsPerSession).toInt
        val rows = feed.group(session, gi)
        val at = Clock.nowMs
        offers += ((due, at, st.offer(rows)))
        if (gi == sz.groupsPerSession - 1) session += 1
        g += 1
      }
      st.offer(feed.flush())
      st.query.processAllAvailable()
      spark.streams.removeListener(progress)
      st.query.exception.foreach(e => out.fail(s"stream failed: $e"))

      // Freshness: the first progress event whose end offset covers the
      // group's offset.
      val evs = progress.events.asScala.toSeq
        .filter(_._2.numInputRows > 0).sortBy(_._2.batchId)
      out.attempted += offers.size
      var i = 0
      val lateMs = mutable.ArrayBuffer.empty[Double]
      val waitMs = mutable.ArrayBuffer.empty[Double]
      offers.foreach { case (due, at, off) =>
        while (i < evs.size && endOffset(evs(i)._2) < off) i += 1
        if (i == evs.size) out.fail(s"offer at offset $off never committed")
        else {
          val (seen, p, _) = evs(i)
          val op = p.batchId + 1
          out.samples += (("freshness", seen - due, op))
          if (ctx.tracer.exists(_.traced(op))) {
            lateMs += at - due
            waitMs += startMs(p) - due
          }
        }
      }
      val measured = evs.filter(e => startMs(e._2) >= t0 - 1)
      measured.foreach { case (_, p, _) =>
        out.samples += (("trigger", dur(p, "triggerExecution"), p.batchId + 1))
      }
      ctx.tracer.foreach { tr =>
        var prevIo = evs.headOption.map(_._3).getOrElse(Map.empty[String, Long])
        evs.foreach { case (_, p, io) =>
          if (startMs(p) >= t0 - 1) {
            val s = startMs(p)
            val o = new OpRec(p.batchId + 1, "trigger", s,
              s + dur(p, "triggerExecution"), Storage.delta(prevIo, io))
            Seq("getBatch", "queryPlanning", "addBatch", "walCommit",
              "commitOffsets", "triggerExecution", "latestOffset")
              .foreach(k => o.extra(s"streaming.${k}_ms") = dur(p, k))
            o.extra("streaming.rows_per_trigger") = p.numInputRows.toDouble
            p.stateOperators.headOption.foreach { so =>
              o.extra("streaming.state_rows") = so.numRowsTotal.toDouble
              o.extra("streaming.state_memory_bytes") = so.memoryUsedBytes.toDouble
              o.extra("streaming.state_commit_ms") = so.commitTimeMs.toDouble
              o.extra("streaming.rows_dropped_by_watermark") =
                so.numRowsDroppedByWatermark.toDouble
            }
            tr.addOp(o)
          }
          prevIo = io
        }
        out.extra("gen.late_ms") = (Pct.mean(lateMs.toSeq), "ms")
        out.extra("streaming.queue_wait_ms") = (Pct.mean(waitMs.toSeq), "ms")
      }

      check(spark, st, feed, out)
      out.extra("disk_bytes_per_row") = (Files2.sizeOf(new File(st.funding))
        .toDouble / feed.delivered.size, "B/row")
    } finally {
      spark.streams.removeListener(progress)
      if (current != null) current.query.stop()
    }
  }

  /** The final stats table against a driver-side trailing-mean reference
    * over the distinct delivered keys (what the watermark dedup and the
    * newest-wins upsert must leave). */
  def check(spark: SparkSession, st: Stream, feed: Feed, out: Outcome): Unit = {
    out.attempted += 1
    try {
      val dropped = st.query.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      if (dropped != 0) out.fail(s"$dropped in-watermark rows were dropped")
      val n = spark.read.parquet(st.funding).count()
      if (n != feed.delivered.size)
        out.fail(s"funding sink holds $n rows, expected ${feed.delivered.size}")
      val cols = "funding_8h" +: Stats.referenceHorizons.map(_.name)
      val got = spark.read.parquet(st.stats).select("symbol", cols: _*)
        .collect().map { r =>
          r.getString(0) -> cols.indices.map(i =>
            if (r.isNullAt(i + 1)) None else Some(r.getDouble(i + 1)))
        }.toMap
      val want = feed.delivered.groupBy(_._1._1).map { case (sym, kv) =>
        val desc = kv.toSeq.sortBy(-_._1._2).map(_._2)
        symbol(sym) -> (Some(desc.head) +: Stats.referenceHorizons.map { h =>
          if (desc.size >= h.sessions)
            Some(desc.take(h.sessions).sum / h.sessions)
          else None
        })
      }
      val bad = want.keySet.union(got.keySet).toSeq.sorted.filterNot { k =>
        (got.get(k), want.get(k)) match {
          case (Some(a), Some(b)) =>
            a.zip(b).forall { case (x, y) => Workload.closeOpt(x, y) }
          case _ => false
        }
      }
      if (bad.nonEmpty)
        out.fail(s"stream stats differ for ${bad.size} symbols, first " +
          s"${bad.head}: got ${got.get(bad.head)}, expected ${want.get(bad.head)}")
    } catch { case e: Exception => out.fail(s"final check threw: $e") }
  }

  def layers(tr: Tracer, out: Outcome): Map[String, Double] = {
    val vs = tr.views(opKinds)
    val keys = vs.flatMap(_.op.extra.keys).distinct
    keys.map { k =>
      val xs = vs.map(_.op.extra.getOrElse(k, 0.0))
      k -> (if (k == "streaming.rows_dropped_by_watermark") xs.sum else Pct.mean(xs))
    }.toMap ++ Seq("gen.late_ms", "streaming.queue_wait_ms")
      .flatMap(k => out.extra.get(k).map(k -> _._1))
  }
}
