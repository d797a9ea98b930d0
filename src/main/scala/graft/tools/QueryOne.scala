package graft.tools


import graft.SparkEntry

/** Scratch harness: run ONE registered query by name and print its rows —
  * for spot-checking a single entry without a full Verify pass. Not part
  * of the driver contract.
  * Usage: runMain graft.tools.QueryOne <name> [sfDir]
  */
object QueryOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(
      sys.error("usage: QueryOne <name> [sfDir]"))
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = SparkEntry.localSession(32)
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'; known: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
    val t0 = System.nanoTime()
    val df = fn(spark, dir)
    df.show(100, truncate = false)
    println(f"rows=${df.count()} elapsed=${(System.nanoTime() - t0) / 1e9}%.2fs")
    spark.stop()
  }
}
