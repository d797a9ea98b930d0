package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.Tables
import graft.functions.TextFns
import graft.ops.TextDedup

/** Dev scratch profiler for hot operators (not part of the contract). */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(32)

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }

    val docs = Tables.documents(spark, dir).cache()
    docs.count()

    // warmup
    docs.select(lower(col("text"))).count()

    time("explode tokens") {
      docs.withColumn("__tok", explode(TextFns.tokensWs(lower(col("text"))))).count()
    }
    time("explode+hash60") {
      docs.withColumn("__tok", explode(TextFns.tokensWs(lower(col("text")))))
        .select(TextFns.hash60(col("__tok")).as("h")).count()
    }
    time("full simhash fingerprints") {
      TextDedup.simHash(docs, 48).count()
    }
    time("simhash near-dups e2e") {
      TextDedup.simHashNearDups(docs, 48, 4, 6).count()
    }
    time("minhash near-dups e2e") {
      TextDedup.minHashNearDups(docs).count()
    }
    val sh = TextDedup.shingles(docs)
    time("  exploded shingles") { sh.count() }
    time("  signatures") { TextDedup.minHashSignatures(sh, 16).count() }
    val cands = TextDedup.lshCandidates(TextDedup.minHashSignatures(sh, 16), 16, 4)
    time("  candidates") { cands.count() }
    time("  verify postings") {
      TextDedup.verifyJaccard(cands, sh, 0.4).count()
    }
    time("  ngram e2e") { TextDedup.ngramJaccardDups(docs).count() }
    spark.stop()
  }
}
