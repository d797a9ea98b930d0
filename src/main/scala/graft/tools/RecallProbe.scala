package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.Tables
import graft.functions.VectorFns
import graft.ops.Similarity

/** Scratch measurement harness: identity recall AND quality ratio (sum
  * of true cosines, got/exact — the degenerate-neighborhood metric) of
  * the ANN tiers vs the exact top-10 of query 0, across parameter
  * combos. Ground truth is ONE corpus pass (query-0 cosines), so the
  * probe runs at any corpus size — the old all-pairs spelling was n²
  * and unusable on ScaleGen derivatives. Not part of the driver
  * contract. Usage: runMain graft.tools.RecallProbe <sfDir> */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = SparkEntry.localSession(32)
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.count()
    val e = emb.select(col("vec_id"),
      VectorFns.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", VectorFns.norm(col("v")))
    val qv = Similarity.localizeSmall(e.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qnrm")))
    // query-0 exact cosines: ONE pass, localized top-10 only
    val q0 = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"),
        (VectorFns.dot(col("v"), col("qv"))
          / (col("nrm") * col("qnrm"))).as("cos_sim"))
    val ex = Similarity.localizeSmall(
      q0.orderBy(col("cos_sim").desc, col("vec_id").asc).limit(10))
    val exactCos = ex.agg(sum("cos_sim")).head().getDouble(0)

    def score(got: DataFrame): (Double, Double) = {
      val ids = Similarity.localizeSmall(got.select("vec_id"))
      val hits = ids.join(broadcast(ex), Seq("vec_id"), "left_semi").count()
      val gotCos = e.join(broadcast(ids), Seq("vec_id"))
        .crossJoin(broadcast(qv))
        .select((VectorFns.dot(col("v"), col("qv"))
          / (col("nrm") * col("qnrm"))).as("c"))
        .agg(sum("c")).head().getDouble(0)
      (hits / 10.0, gotCos / exactCos)
    }

    println(s"corpus=$corpus exact top-10 cos sum=$exactCos")
    for (probe <- Seq(2, 3); it <- Seq(2)) {
      val (r, ql) = score(Similarity.ivfTopK(emb, 8, probe, 0L, 10, it)
        .select("vec_id"))
      println(f"IVF nProbe=$probe iters=$it recall=$r%.2f quality=$ql%.3f")
    }
    val spreadFor = (target: Long) => math.max(2L, corpus / target)
    for {
      nc <- Seq(32, 64, 256)
      rr <- Seq(4, 40, 200)
      spread <- Seq(0L, spreadFor(nc.toLong))
    } {
      val (r, ql) = score(Similarity.pqTopK(emb, 8, 8, nc, 0L, 10, rr, 3,
        seedSpread = spread).select("vec_id"))
      println(f"PQ nC=$nc rerank=$rr spread=$spread " +
        f"recall=$r%.2f quality=$ql%.3f")
    }
    spark.stop()
  }
}
