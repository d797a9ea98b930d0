package graft.tools


import graft.SparkEntry

/** Times a fixed query list at two scale dirs and prints the growth
  * slope — the evidence behind BASELINE.md's scaling table. Queries are
  * warmed once (plan/codegen costs) before either measured run.
  *
  * Usage: runMain graft.tools.ScaleBench <smallDir> <bigDir> [q1,q2,...]
  */
object ScaleBench {
  private val DefaultQs =
    Seq("d5_ngram_jaccard", "d6_dedup_clusters", "d7_embed_dedup_clusters",
      "d9_keep_best_per_cluster", "x1_source_overlap")

  def main(args: Array[String]): Unit = {
    val small = args.headOption.getOrElse("/root/testdata/sf0.1")
    val big = args.lift(1).getOrElse("/tmp/graft_sf1")
    val qs = args.lift(2).map(_.split(",").toSeq).getOrElse(DefaultQs)
    val spark = SparkEntry.localSession(32)
    def time(name: String, dir: String): Double = {
      println(s"SCALEBENCH_RUN $name $dir")
      val t0 = System.nanoTime()
      // e7's FIXED config is fixture-calibrated: its 4-bit LSH bucket
      // join is quadratic in corpus size (measured: 2.5B pairs / disk
      // exhaustion at the 100× corpus) — the certification that scales,
      // and the one a deployment runs, is the corpus-scaled config.
      if (name == "e7_recall_bound")
        graft.queries.SimilarityQueries.recallBoundScaled(spark, dir)
          .count()
      else SparkEntry.queries(name)(spark, dir).count()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"SCALEBENCH_RUN_DONE $name $dir $s%.2f")
      s
    }
    val warmDir = // warm plans on the smallest dir available
      if (new java.io.File("/root/testdata/sf0.001").isDirectory)
        "/root/testdata/sf0.001"
      else small
    qs.foreach(q => time(q, warmDir))
    val rows = qs.map { q =>
      val a = time(q, small)
      val b = time(q, big)
      (q, a, b, b / a)
    }
    println("SCALEBENCH query,small_s,big_s,ratio")
    rows.foreach { case (q, a, b, r) =>
      println(f"SCALEBENCH $q,$a%.2f,$b%.2f,$r%.2f")
    }
    // ANN QUALITY at scale, not just cost: recall bounds are verified by
    // the oracle only at sf0.01/sf0.1, while the codebooks' cell
    // occupancy changes with corpus size — so when the sweep includes
    // e7_recall_bound, re-EXECUTE the recall check on the big dir and
    // fail loudly if any floor no longer holds there. Two passes:
    // fixed-parameter (observability — this is how the degradation was
    // FOUND: PQ recall 0.50 at 10× with the sf0.1 width) and
    // corpus-scaled (Similarity.scaledRerank — the config a deployment
    // at that corpus would run; THIS one is asserted).
    if (qs.contains("e7_recall_bound")) {
      // fixed-config pass only where it is tractable (its LSH bucket
      // join is quadratic in corpus size); report the skip, never
      // silently narrow coverage
      val corpus = spark.read
        .parquet(s"$big/embeddings.parquet").count()
      if (corpus <= 50000L)
        SparkEntry.queries("e7_recall_bound")(spark, big).collect()
          .foreach { r =>
            println(s"SCALEBENCH_RECALL_FIXED ${r.getString(0)}," +
              f"${r.getDouble(3)}%.3f,pass=${r.getBoolean(4)}")
          }
      else
        println(s"SCALEBENCH_RECALL_FIXED skipped: corpus=$corpus " +
          "> 50k — fixture-calibrated config is quadratic there; " +
          "scaled config below is the certified one")
      val recall = graft.queries.SimilarityQueries
        .recallBoundScaled(spark, big).collect()
      recall.foreach { r =>
        val quality =
          if (r.isNullAt(2)) "n/a" else f"${r.getDouble(2)}%.3f"
        println(s"SCALEBENCH_RECALL_SCALED ${r.getString(0)}," +
          f"recall=${r.getDouble(1)}%.3f,quality=$quality," +
          s"pass=${r.getBoolean(3)}")
      }
      val failed = recall.filterNot(_.getBoolean(3)).map(_.getString(0))
      if (failed.nonEmpty)
        throw new IllegalStateException(
          s"scaled-config recall floor violated at $big by: " +
            failed.mkString(", "))
      println(s"SCALEBENCH_RECALL all ${recall.length} methods hold " +
        s"their floors at $big under the corpus-scaled config")
    }
    spark.stop()
  }
}
