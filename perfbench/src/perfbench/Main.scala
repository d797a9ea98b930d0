package perfbench

import java.io.File

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** The metric names of the result line. `EndToEnd` is printed with
  * `--trace 0`, `Layers` with `--trace 1`; both lists match
  * BENCHMARK.json. */
object Names {
  /** name -> unit */
  val EndToEnd: Seq[(String, String)] = Seq(
    "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
    "commit_p50_ms" -> "ms", "setup_s" -> "s")

  val Layers: Seq[(String, String)] = Seq(
    "op.wall_ms" -> "ms", "driver.self_ms" -> "ms", "driver.plan_ms" -> "ms",
    "spark.job_ms" -> "ms", "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "storage.bytes_read" -> "B", "storage.bytes_written" -> "B",
    "memory.live_heap_peak_mb" -> "MB",
    "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%",
    "trace.ops" -> "count", "trace.spans" -> "count") ++
    Tracer.ReportedModules.flatMap(m => Seq(s"$m.job_ms" -> "ms", s"$m.jobs" -> "count")) ++
    Seq("ops.Upsert.rows_rewritten_per_new_row" -> "ratio") ++
    Seq("getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
      "triggerExecution", "latestOffset").map(k => s"streaming.${k}_ms" -> "ms") ++
    Seq("streaming.rows_per_trigger" -> "count", "streaming.queue_wait_ms" -> "ms",
      "streaming.state_rows" -> "count", "streaming.state_memory_bytes" -> "B",
      "streaming.state_commit_ms" -> "ms",
      "streaming.rows_dropped_by_watermark" -> "count", "gen.late_ms" -> "ms",
      "ops.Snapshots.commit_driver_ms" -> "ms",
      "ops.Snapshots.jobs_per_commit" -> "count",
      "storage.write_ops_per_commit" -> "count",
      "storage.bytes_written_per_commit" -> "B",
      "table.live_files" -> "count", "table.versions" -> "count",
      "scan.files_read" -> "count", "scan.prune_ratio" -> "ratio",
      "maintain.ms" -> "ms", "maintain.bytes_rewritten" -> "B") ++
    (SnapshotMixed.Reads ++ SnapshotMixed.Commits).map(k => s"op.$k.ms" -> "ms")
}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1>` plus the directories run.py passes. Prints the run
  * environment, a human-readable report, and last the result line. */
object Main {

  def session(opts: Opts): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val local = new File(opts.workDir, "spark-local")
    local.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(opts.workDir, "spark-warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def env(spark: SparkSession, opts: Opts): Seq[(String, String)] = {
    val rt = Runtime.getRuntime
    Seq(
      "workload" -> Json.str(opts.workload), "seed" -> Json.num(opts.seed.toDouble),
      "seconds" -> Json.num(opts.seconds), "trace" -> Json.num(if (opts.trace) 1 else 0),
      "size" -> Json.str(if (opts.tiny) "tiny" else "full"),
      "nproc" -> Json.num(rt.availableProcessors()),
      "master" -> Json.str(spark.sparkContext.master),
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "heap_max_mb" -> Json.num(math.round(rt.maxMemory / 1048576.0).toDouble),
      "spark" -> Json.str(spark.version),
      "jdk" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "scala" -> Json.str(scala.util.Properties.versionNumberString),
      "os" -> Json.str(s"${System.getProperty("os.name")} ${System.getProperty("os.version")} ${System.getProperty("os.arch")}"))
  }

  /** The end-to-end figures of an untraced run, and the report lines
    * that name them after the workload (tick, freshness, read, ...). */
  def endToEnd(wl: Workload, out: Outcome): (Map[String, Double], Seq[String]) = {
    val lat = out.times(wl.latencyKinds: _*)
    val com = out.times(wl.commitKinds: _*)
    val ls = if (lat.nonEmpty) Some(Pct.summary(lat)) else None
    val cs = if (com.nonEmpty) Some(Pct.summary(com)) else None
    val m = Map(
      "latency_p50_ms" -> ls.map(_.p50).getOrElse(0.0),
      "latency_tail_ms" -> ls.map(_.tail).getOrElse(0.0),
      "commit_p50_ms" -> cs.map(_.p50).getOrElse(0.0),
      "setup_s" -> (if (out.setupS.nonEmpty) Pct.median(out.setupS.toSeq) else 0.0))
    def timing(name: String, s: Option[Pct.Summary], unit: String,
        msPer: Double): Seq[String] = s.toSeq.flatMap { x =>
      val rule = if (x.ruleMet) "" else ", fewer than 20 samples: tail rule not met"
      Seq(f"$name%s_p50_$unit%s ${x.p50 / msPer}%.4f $unit%s (n=${x.n}%d)",
        f"$name%s_tail_$unit%s ${x.tail / msPer}%.4f $unit%s " +
          f"(p${x.tailP}%s, n=${x.n}%d, ${x.tailBeyond}%d beyond$rule%s)")
    }
    val (headline, unit, msPer, commit) = wl.reportNames
    val named = timing(headline, ls, unit, msPer) ++
      commit.toSeq.flatMap(timing(_, cs, "ms", 1.0))
    val errorRate = if (out.attempted > 0) out.failed.toDouble / out.attempted else 1.0
    val lines = named ++ Seq(
      f"error_rate $errorRate%.6f ratio (${out.failed}%d of ${out.attempted}%d ops)",
      f"setup_s ${m("setup_s")}%.4f s (median of ${out.setupS.size}%d: " +
        out.setupS.map(x => f"$x%.3f").mkString(", ") + ")",
      f"live_heap_peak_mb ${Heap.peakMb}%.1f MB") ++
      out.extra.toSeq.map { case (k, (v, u)) => f"$k%s $v%.4f $u%s" }
    (m, lines)
  }

  /** Per-layer figures of a traced run: means per traced op. */
  def layers(wl: Workload, tr: Tracer, out: Outcome): Map[String, Double] = {
    val vs = tr.views(wl.opKinds)
    def mean(f: tr.OpView => Double): Double = Pct.mean(vs.map(f))
    def io(k: String): Double = mean(_.op.io.getOrElse(k, 0L).toDouble)
    def jobSum(f: JobRec => Double)(v: tr.OpView): Double = v.jobs.map(f).sum
    val lat = out.samples.filter(s => wl.latencyKinds.contains(s._1))
    val (on, off) = lat.partition(s => tr.traced(s._3))
    val overhead =
      if (on.nonEmpty && off.nonEmpty) Pct.median(on.map(_._2).toSeq) - Pct.median(off.map(_._2).toSeq)
      else 0.0
    val offMedian = if (off.nonEmpty) Pct.median(off.map(_._2).toSeq) else 0.0
    val generic = Map(
      "op.wall_ms" -> mean(_.op.wallMs),
      "driver.self_ms" -> mean(_.selfMs),
      "driver.plan_ms" -> mean(_.planMs),
      "spark.job_ms" -> mean(_.jobUnionMs),
      "spark.jobs" -> mean(_.jobs.size.toDouble),
      "spark.tasks" -> mean(jobSum(_.tasks.toDouble)),
      "spark.executor_cpu_ms" -> mean(jobSum(_.cpuNs / 1e6)),
      "spark.gc_ms" -> mean(jobSum(_.gcMs.toDouble)),
      "spark.shuffle_read_bytes" -> mean(jobSum(_.shuffleRead.toDouble)),
      "spark.shuffle_write_bytes" -> mean(jobSum(_.shuffleWrite.toDouble)),
      "storage.bytes_read" -> io("bytesRead"),
      "storage.bytes_written" -> io("bytesWritten"),
      "memory.live_heap_peak_mb" -> Heap.peakMb,
      "trace.overhead_ms" -> overhead,
      "trace.overhead_pct" -> (if (offMedian > 0) 100.0 * overhead / offMedian else 0.0),
      "trace.ops" -> vs.size.toDouble,
      "trace.spans" -> (vs.size + vs.map(_.jobs.size).sum).toDouble)
    // modules the report does not name count as `other`
    def reported(j: JobRec): String =
      if (Tracer.ReportedModules.contains(j.module)) j.module else Modules.Other
    val modules = Tracer.ReportedModules.flatMap { m =>
      Seq(s"$m.job_ms" -> mean(v => v.jobs.filter(reported(_) == m)
          .map(j => (if (j.endMs.isNaN) v.op.endMs else j.endMs) - j.startMs).sum),
        s"$m.jobs" -> mean(_.jobs.count(reported(_) == m).toDouble))
    }
    val all = generic ++ modules ++ wl.layers(tr, out)
    Names.Layers.map { case (k, _) => k -> all.getOrElse(k, 0.0) }.toMap
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat, when readable:
    * time the host gave this machine's CPUs to others. */
  def cpuSteal(): Option[(Long, Long)] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  } catch { case _: java.io.IOException => None }

  def result(correct: Boolean, out: Outcome, metrics: Seq[(String, String)],
      values: Map[String, Double]): String =
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, u) =>
        val v = values.getOrElse(k, 0.0)
        k -> Json.obj(Seq("value" -> Json.num(if (v.isNaN) 0.0 else v),
          "unit" -> Json.str(u)))
      })))

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val wl = Workload.named(opts.workload).getOrElse {
      System.err.println(s"unknown workload ${opts.workload}; known: " +
        Workload.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    opts.workDir.mkdirs()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(opts)
    val sessionReady = System.currentTimeMillis()
    val steal0 = cpuSteal()
    val envFields = env(spark, opts)
    println("ENV " + Json.obj(envFields))
    val tracer = if (opts.trace)
      Some(new Tracer(spark, Modules.fromSource(opts.programSrc), wl.opOf))
    else None
    tracer.foreach(_.install())
    val out = new Outcome
    val ctx = Ctx(spark, opts, new Gen(opts.seed), tracer,
      new OpRunner(spark, tracer), opts.workDir)
    try wl.run(ctx, out)
    catch { case e: Exception =>
      out.attempted += 1
      out.fail(s"workload aborted: $e")
      e.printStackTrace()
    }
    val workloadDone = System.currentTimeMillis()
    val stealPct = for ((s0, t0) <- steal0; (s1, t1) <- cpuSteal() if t1 > t0)
      yield 100.0 * (s1 - s0) / (t1 - t0)
    val correct = out.failed == 0 && out.samples.nonEmpty
    out.problems.foreach(p => println(s"CHECK FAILED ${wl.name}: $p"))
    val (e2e, lines) = endToEnd(wl, out)
    lines.foreach(l => println(s"METRIC ${wl.name} $l"))
    val values = tracer match {
      case None => e2e
      case Some(tr) =>
        PerfbenchBridge.drainListenerBus(spark.sparkContext, 30000)
        tr.uninstall()
        val ls = layers(wl, tr, out)
        val file = new File(opts.spanDir, s"${wl.name}-seed${opts.seed}.jsonl")
        val n = tr.writeSpans(file, Json.obj(envFields))
        println(s"SPANS ${wl.name} $n spans in ${file.getPath}")
        Names.Layers.foreach { case (k, u) =>
          println(f"LAYER ${wl.name} $k%s ${ls(k)}%.4f $u%s")
        }
        ls
    }
    spark.stop()
    Files2.deleteTree(opts.workDir)
    val end = System.currentTimeMillis()
    println(f"PHASES ${wl.name} jvm+session ${(sessionReady - jvmStart) / 1e3}%.1f s, " +
      f"workload ${(workloadDone - sessionReady) / 1e3}%.1f s, " +
      f"report+stop ${(end - workloadDone) / 1e3}%.1f s" +
      stealPct.fold("")(p => f", host CPU steal during the workload $p%.1f%%"))
    val metrics = if (opts.trace) Names.Layers else Names.EndToEnd
    println(result(correct, out, metrics, values))
    System.out.flush()
    if (!correct) sys.exit(1)
  }
}
