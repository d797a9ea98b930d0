package perfbench

import java.io.File

import scala.collection.mutable

/** The benchmark's own tests: the tail rule, the call-site -> module
  * mapping, the metric lists against BENCHMARK.json, and a tiny-size
  * smoke run of every workload on two seeds that must pass its output
  * check. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def check(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case e: Throwable =>
      e.printStackTrace(); false
    }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += name
  }

  def tailRule(): Unit = {
    check("tail: fewer than 20 samples qualify for no percentile") {
      Pct.tailPercentile(19).isEmpty && !Pct.summary((1 to 19).map(_.toDouble)).ruleMet
    }
    check("tail: each ladder step needs ten samples beyond it") {
      Seq(20 -> 50.0, 39 -> 50.0, 40 -> 75.0, 99 -> 75.0, 100 -> 90.0,
        199 -> 90.0, 200 -> 95.0, 999 -> 95.0, 1000 -> 99.0, 10000 -> 99.9)
        .forall { case (n, p) => Pct.tailPercentile(n).contains(p) }
    }
    check("tail: beyond counts are exact at the chosen percentile") {
      Seq(20, 40, 57, 100, 250, 1000).forall { n =>
        val p = Pct.tailPercentile(n).get
        Pct.beyond(n, p) >= 10 &&
          Pct.Ladder.filter(_ > p).forall(q => Pct.beyond(n, q) < 10)
      }
    }
    check("tail: summary of 1..100 is median 50.5, p90 = 90, n and beyond reported") {
      val s = Pct.summary((1 to 100).reverse.map(_.toDouble))
      s.n == 100 && s.p50 == 50.5 && s.tailP == 90.0 && s.tail == 90.0 &&
        s.tailBeyond == 10 && s.ruleMet
    }
  }

  def modules(src: File): Unit = {
    val m = Modules.fromSource(src)
    check("modules: long-form frames map to package + file") {
      m.ofLine("graft.ops.Upsert$.upsertParquet(Upsert.scala:42)").contains("ops.Upsert") &&
        m.ofLine("app//graft.sql.GraftCommands$MergeExec.run(GraftCommands.scala:7)")
          .contains("sql.GraftCommands") &&
        m.ofLine("graft.tools.Profile$.main(Profile.scala:3)").contains("tools.Profile")
    }
    check("modules: short call sites map through the source index") {
      m.ofLine("parquet at Sinks.scala:22").contains("ops.Sinks") &&
        m.ofLine("count at MainDag.scala:63").contains("pipelines.MainDag") &&
        m.ofLine("isEmpty at FundingStatsStream.scala:31")
          .contains("streaming.FundingStatsStream")
    }
    check("modules: the innermost program frame of a stack wins") {
      m.of("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
        "graft.ops.AtomicDir$.replaceWith(AtomicDir.scala:120)\n" +
        "graft.ops.Sinks$.overwriteParquet(Sinks.scala:22)\n" +
        "graft.pipelines.MainDag$.runTick(MainDag.scala:58)").contains("ops.AtomicDir")
    }
    check("modules: benchmark frames, Spark frames and ambiguous files") {
      m.ofLine("perfbench.SnapshotMixed$.read(SnapshotMixed.scala:9)").contains(Modules.Bench) &&
        m.ofLine("org.apache.spark.rdd.RDD.count(RDD.scala:1)").isEmpty &&
        m.ofLine("run at ThreadPoolExecutor.java:1136").isEmpty &&
        // Profile.scala exists in two packages: a short form cannot tell
        m.ofLine("collect at Profile.scala:10").isEmpty
    }
  }

  def benchmarkJson(file: File): Unit = {
    val text = new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
    def names(section: String): Seq[(String, String)] = {
      val body = text.substring(text.indexOf(s"\"$section\""))
      val end = body.indexOf(']')
      """\{"name": "([^"]+)", "unit": "([^"]+)"""".r
        .findAllMatchIn(body.substring(0, end)).map(x => x.group(1) -> x.group(2)).toSeq
    }
    check("BENCHMARK.json end_to_end matches the result line") {
      names("end_to_end") == Names.EndToEnd
    }
    check("BENCHMARK.json per_layer matches the traced result line") {
      names("per_layer") == Names.Layers
    }
    check("BENCHMARK.json workloads are the implemented ones") {
      """"name": "([a-z_]+)", "why"""".r.findAllMatchIn(text).map(_.group(1)).toSeq ==
        Workload.all.map(_.name)
    }
  }

  def inputsDependOnSeed(): Unit = {
    check("inputs: the same seed gives the same inputs, another seed others") {
      val sz = DagTick.size(tiny = true)
      def feed(seed: Long) = new DagTick.Model(new Gen(seed), sz).feed(0)._1
      feed(1) == feed(1) && feed(1) != feed(2)
    }
  }

  def smoke(work: File, src: File): Unit = {
    val opts0 = Opts("selftest", 1, 4, trace = false, tiny = true,
      new File(work, "smoke"), new File(work, "spans"), src)
    val spark = Main.session(opts0)
    try {
      for (wl <- Workload.all; seed <- Seq(1L, 2L)) {
        val trace = seed == 2L
        val opts = opts0.copy(workload = wl.name, seed = seed, trace = trace,
          workDir = new File(work, s"${wl.name}-$seed"))
        check(s"smoke: ${wl.name} seed $seed${if (trace) " traced" else ""} passes its output check") {
          val tracer = if (trace) Some(new Tracer(spark, Modules.fromSource(src), wl.opOf)) else None
          tracer.foreach(_.install())
          val out = new Outcome
          try wl.run(Ctx(spark, opts, new Gen(seed), tracer,
            new OpRunner(spark, tracer), opts.workDir), out)
          finally tracer.foreach { tr =>
            org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext, 30000)
            tr.uninstall()
          }
          out.problems.foreach(p => println(s"  $p"))
          val traceOk = tracer.forall { tr =>
            val ls = Main.layers(wl, tr, out)
            val vs = tr.views(wl.opKinds)
            println(s"  traced ops ${vs.size}, jobs per op ${ls("spark.jobs")}")
            // spans account for every op: wall = self + union of jobs
            vs.nonEmpty && vs.forall(v =>
              math.abs(v.op.wallMs - v.selfMs - v.jobUnionMs) < 1e-6 &&
                v.selfMs >= -1e-6) &&
              ls.keySet == Names.Layers.map(_._1).toSet &&
              ls("spark.jobs") > 0
          }
          out.failed == 0 && out.attempted > 0 && out.samples.nonEmpty && traceOk
        }
        Files2.deleteTree(opts.workDir)
      }
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = new File(m("work"))
    val src = new File(m("program-src"))
    tailRule()
    modules(src)
    benchmarkJson(new File(m("benchmark-json")))
    inputsDependOnSeed()
    smoke(work, src)
    println(s"${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
