package perfbench

import java.io.File

/** The training run behind the class-data archive run.py records at
  * build time: every workload once at tiny size, traced, in one JVM, so
  * the archive holds the classes every benchmark run loads. Its results
  * are not used. */
object Train {
  def main(args: Array[String]): Unit = {
    val work = new File(args.grouped(2).map(a => a(0) -> a(1)).toMap
      .getOrElse("--work", sys.error("missing --work")))
    val opts = Opts("train", 1, 1, trace = true, tiny = true,
      new File(work, "train"), new File(work, "spans"), new File("src/main/scala"))
    val spark = Main.session(opts)
    try Workload.all.foreach { wl =>
      val tracer = new Tracer(spark, Modules.fromSource(opts.programSrc), wl.opOf)
      tracer.install()
      val out = new Outcome
      wl.run(Ctx(spark, opts.copy(workload = wl.name), new Gen(1), Some(tracer),
        new OpRunner(spark, Some(tracer)), new File(work, wl.name)), out)
      tracer.uninstall()
      Main.endToEnd(wl, out)
      Main.layers(wl, tracer, out)
    } finally spark.stop()
  }
}
