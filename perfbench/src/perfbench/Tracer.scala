package perfbench

import java.io.{File, PrintWriter}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for every span: epoch milliseconds with sub-ms digits,
  * comparable with the millisecond times Spark stamps on its events. */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** Hadoop FileSystem statistics of the local filesystem. In local mode
  * the executors share the driver JVM, so these include task I/O. */
object Storage {
  def snapshot(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file")
    if (st == null) Map.empty
    else st.getLongStatistics.asScala.map(s => s.getName -> s.getValue).toMap
  }

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** Maps a Spark call site to the program module that issued the job:
  * the innermost frame that belongs to the program (package `graft`) or
  * to the benchmark itself. Module names follow the source tree: the
  * package below `graft` plus the file name, e.g. `ops.Upsert`. */
final class Modules(index: Map[String, String]) {
  private val Frame = """([\w$.]+)\.[\w$<>]+\(([\w$]+)\.scala:\d+\)""".r.unanchored
  private val Short = """ at ([\w$]+)\.scala:\d+""".r.unanchored

  /** The module of one call-site line: a long-form stack frame
    * (`graft.ops.Upsert$.merge(Upsert.scala:42)`) or a short form
    * (`parquet at Upsert.scala:42`). */
  def ofLine(line: String): Option[String] = line match {
    case Frame(cls, file) =>
      if (cls.startsWith("graft.")) {
        val pkg = cls.stripPrefix("graft.").split('.').dropRight(1)
        Some((pkg :+ file).mkString("."))
      } else if (cls.startsWith("perfbench.")) Some(Modules.Bench)
      else None
    case Short(file) => index.get(s"$file.scala")
    case _ => None
  }

  /** The first line of a (possibly multi-line) call site that names a
    * module. */
  def of(callSite: String): Option[String] =
    Option(callSite).toSeq.flatMap(_.split('\n')).iterator
      .map(_.trim).flatMap(ofLine).nextOption()
}

object Modules {
  val Bench = "perfbench"
  val Other = "other"

  /** Index `File.scala` -> module from the program's source tree. A file
    * name used in two packages maps to neither (the long form, which
    * carries the class, still resolves it). */
  def fromSource(root: File): Modules = {
    val graft = new File(root, "graft")
    def walk(d: File, pkg: List[String]): Seq[(String, String)] =
      Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) walk(f, pkg :+ f.getName)
        else if (f.getName.endsWith(".scala"))
          Seq(f.getName -> (pkg :+ f.getName.stripSuffix(".scala")).mkString("."))
        else Nil
      }
    val unique = walk(graft, Nil).groupBy(_._1).collect {
      case (f, Seq((_, m))) => f -> m
    }
    new Modules(unique)
  }
}

/** One timed operation of a workload: a tick, a trigger, a statement. */
final class OpRec(val id: Long, val kind: String, val startMs: Double,
    val endMs: Double, val io: Map[String, Long]) {
  val extra = mutable.LinkedHashMap.empty[String, Double]
  def wallMs: Double = endMs - startMs
}

final class JobRec(val jobId: Int, val opId: Long, val startMs: Double,
    val module: String) {
  @volatile var endMs: Double = Double.NaN
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var recordsWritten = 0L
}

/** Collects spans and counters for ops whose id is traced. Ops alternate
  * between traced (even ids) and untraced (odd ids): an untraced op's
  * events are dropped on arrival, so the traced and untraced medians of
  * one run give the tracing overhead.
  *
  * Spans: each op is a root span; each Spark job issued for it is a
  * child span, joined through the job group the benchmark sets (or the
  * micro-batch id for stream triggers). An op's self time is its wall
  * time minus the union of its job intervals. */
final class Tracer(spark: SparkSession, modules: Modules,
    opOf: Properties => Option[Long]) {

  def traced(opId: Long): Boolean = opId % 2 == 0

  val ops = new ConcurrentLinkedQueue[OpRec]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val sqlCallSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  /** (phase start ms, planning ms) per finished query execution. */
  private val plans = new ConcurrentLinkedQueue[(Double, Double)]()

  private val listener = new SparkListener {
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        sqlCallSite.put(e.executionId, e.details)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties).getOrElse(new Properties())
      opOf(props).filter(traced).foreach { op =>
        val finalStage = e.stageInfos.maxByOption(_.stageId)
        val module = finalStage.flatMap(s => modules.of(s.details))
          .orElse(finalStage.flatMap(s => modules.of(s.name)))
          .orElse(Option(props.getProperty("spark.sql.execution.id"))
            .flatMap(id => Option(sqlCallSite.get(id.toLong)))
            .flatMap(modules.of))
          .getOrElse(Modules.Other)
        val rec = new JobRec(e.jobId, op, e.time.toDouble, module)
        jobs.put(e.jobId, rec)
        e.stageIds.foreach(s => stageJob.put(s, rec))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.recordsWritten += m.outputMetrics.recordsWritten
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        plans.add((ph.values.map(_.startTimeMs).min.toDouble,
          ph.values.map(_.durationMs).sum.toDouble))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution,
        ex: Exception): Unit = record(qe)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def addOp(op: OpRec): Unit = if (traced(op.id)) ops.add(op)

  // ---- derived per-op figures -------------------------------------------

  final case class OpView(op: OpRec, jobs: Seq[JobRec], jobUnionMs: Double,
      planMs: Double) {
    def selfMs: Double = op.wallMs - jobUnionMs
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Per-op views; job intervals are clipped to their op's interval. */
  def views(kinds: Set[String]): Seq[OpView] = {
    val byOp = jobs.values.asScala.toSeq.groupBy(_.opId)
    val planList = plans.asScala.toSeq
    ops.asScala.toSeq.filter(o => kinds.contains(o.kind)).sortBy(_.id).map { o =>
      val js = byOp.getOrElse(o.id, Nil).sortBy(_.jobId)
      val iv = js.map(j => (math.max(j.startMs, o.startMs),
        math.min(if (j.endMs.isNaN) o.endMs else j.endMs, o.endMs)))
        .filter { case (s, e) => e > s }
      val plan = planList.collect {
        case (s, ms) if s >= o.startMs - 1 && s <= o.endMs + 1 => ms
      }.sum
      OpView(o, js, union(iv), plan)
    }
  }

  /** Write every span (ops and their jobs) as JSON lines. */
  def writeSpans(file: File, header: String): Int = {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    var n = 0
    try {
      w.println(header)
      views(ops.asScala.map(_.kind).toSet).foreach { v =>
        val o = v.op
        w.println(Json.obj(Seq(
          "span" -> Json.str(s"op-${o.id}"), "name" -> Json.str(o.kind),
          "start_ms" -> Json.num(o.startMs), "end_ms" -> Json.num(o.endMs),
          "parent" -> "null", "op" -> Json.num(o.id.toDouble),
          "self_ms" -> Json.num(v.selfMs),
          "child_ms" -> Json.num(v.jobUnionMs),
          "plan_ms" -> Json.num(v.planMs))))
        n += 1
        v.jobs.foreach { j =>
          w.println(Json.obj(Seq(
            "span" -> Json.str(s"job-${j.jobId}"),
            "name" -> Json.str(s"job:${j.module}"),
            "start_ms" -> Json.num(j.startMs), "end_ms" -> Json.num(j.endMs),
            "parent" -> Json.str(s"op-${o.id}"),
            "op" -> Json.num(o.id.toDouble),
            "tasks" -> Json.num(j.tasks.toDouble),
            "records_written" -> Json.num(j.recordsWritten.toDouble))))
          n += 1
        }
      }
    } finally w.close()
    n
  }
}

object Tracer {
  val GroupPrefix = "perfbench-op-"

  /** Ops of closed-loop workloads: the job group the benchmark sets. */
  def byJobGroup(p: Properties): Option[Long] =
    Option(p.getProperty("spark.jobGroup.id"))
      .filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toLong)

  /** Stream triggers: op id = micro-batch id + 1. */
  def byBatchId(p: Properties): Option[Long] =
    Option(p.getProperty("streaming.sql.batchId")).map(_.toLong + 1)

  /** The modules whose job time the per-layer report names. */
  val ReportedModules: Seq[String] = Seq(
    "pipelines.MainDag", "pipelines.DimensionRefresh", "pipelines.Lending",
    "pipelines.FundingStats", "ops.Upsert", "ops.Sinks", "ops.AtomicDir",
    "ops.Stats", "ops.Snapshots", "sql.GraftCommands",
    "streaming.FundingStatsStream", Modules.Bench, Modules.Other)
}

/** Runs closed-loop ops: sets the op's job group, times it, and hands a
  * traced op's span to the tracer. */
final class OpRunner(spark: SparkSession, tracer: Option[Tracer]) {
  private var next = 0L

  def lastId: Long = next

  /** Run `body` as op `kind`; the result or the exception, the wall
    * time in ms, and the op record when traced. */
  def apply[T](kind: String)(body: => T): (Either[Throwable, T], Double, Option[OpRec]) = {
    next += 1
    val id = next
    val sc = spark.sparkContext
    sc.setJobGroup(Tracer.GroupPrefix + id, kind, interruptOnCancel = false)
    val traced = tracer.exists(_.traced(id))
    val io0 = if (traced) Storage.snapshot() else Map.empty[String, Long]
    val t0 = Clock.nowMs
    val r = try Right(body) catch { case e: Exception => Left(e) }
    val t1 = Clock.nowMs
    sc.clearJobGroup()
    Heap.sample()
    val rec = if (traced) {
      val o = new OpRec(id, kind, t0, t1, Storage.delta(io0, Storage.snapshot()))
      tracer.foreach(_.addOp(o))
      Some(o)
    } else None
    (r, t1 - t0, rec)
  }
}
