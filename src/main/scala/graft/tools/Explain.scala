package graft.tools


import graft.SparkEntry

/** Dev utility: print the formatted physical plan of one or all
  * SparkEntry queries. Usage: runMain graft.tools.Explain [sfDir] [name...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkEntry.localSession(4)
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
