package graft.tools

import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Deterministic 10× scale-up of the `documents`/`embeddings` fixtures —
  * evidence material for the scaling table in BASELINE.md (the slope of
  * query time vs corpus size is the testable form of "this plan survives
  * a scale-up").
  *
  * Replication discipline (matters for dedup workloads): a verbatim copy
  * would make every document 9 exact duplicates of itself, growing the
  * near-dup pair space QUADRATICALLY with replica count — a
  * generator-made skew no real corpus has. Instead each replica is
  * decorrelated from the others while preserving the fixture's own
  * within-replica duplicate structure exactly:
  *   - documents: every whitespace token gets a replica suffix
  *     (`tok~r3`) — shingle sets across replicas become disjoint, while
  *     Jaccard relations within a replica are untouched;
  *   - embeddings: coordinates rotate by `6·replica` positions composed
  *     with a per-32-replica-block variant (reverse / alternate-sign) —
  *     orthogonal transforms, so within-replica cosines are bit-preserved
  *     while cross-replica cosines fall to ~0 (random directions), with
  *     no transform repeating below 128 replicas;
  *   - events: each replica shifts ts by `replica · 90 days` and
  *     user_id/event_id by a stride — the time-series growth axis is a
  *     LONGER history (10× points per symbol; user_id % 20 is preserved
  *     by the stride, so the symbol universe stays fixed while every
  *     series extends), not duplicated timestamps a dedup would collapse.
  * So pairs/clusters grow ~linearly with corpus size, which is exactly
  * the regime the scale claims are about.
  *
  * Usage: runMain graft.tools.ScaleGen <srcSfDir> <outDir> [replicas]
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val replicas = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SparkEntry.localSession(32, "WARN")

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val idStride = 10000000L

    val docsN = (0 until replicas).map { r =>
      docs.select(
        (col("doc_id") + lit(r * idStride)).as("doc_id"),
        (if (r == 0) col("text")
         else array_join(
           transform(split(col("text"), "\\s+"), t => concat(t, lit(s"~r$r"))),
           " ")).as("text"),
        col("lang"), col("source"))
    }.reduce(_ unionByName _)
      // recompute instead of copying: suffixed tokens lengthen the text,
      // and the fixture invariant is n_chars == length(text)
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")

    val embN = (0 until replicas).map { r =>
      val dim = 64
      // Orthogonal per-replica transform = rotation × {identity, reverse,
      // alternate-sign, reverse+alternate-sign}. Rotation alone repeats at
      // r ≡ r' (mod 32) — replicas 0 and 32 would be EXACT copies and the
      // pair space would grow quadratically again (measuring the
      // generator, not the plans) — so the variant index r/32 composes a
      // second orthogonal map; every transform preserves within-replica
      // dot products exactly while cross-replica cosines stay ~0. Sound
      // for up to 128 replicas.
      val rot = (r * 6) % dim
      val base: org.apache.spark.sql.Column = (r / 32) match {
        case 0 => col("embedding")
        case 1 => reverse(col("embedding"))
        case 2 => transform(col("embedding"),
          (x, i) => when(i % 2 === 0, -x).otherwise(x))
        case _ => transform(reverse(col("embedding")),
          (x, i) => when(i % 2 === 0, -x).otherwise(x))
      }
      emb.select(
        (col("vec_id") + lit(r * idStride)).as("vec_id"),
        (if (r == 0) base
         else if (rot == 0) base
         else concat(slice(base, rot + 1, dim - rot),
           slice(base, 1, rot))).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)

    // events: shift ts per replica in whatever type the fixture uses —
    // long nanos (legacy TIMESTAMP(NANOS) layouts) or a native
    // timestamp (current µs layout); the derivative keeps the source's
    // type so Tables' layout dispatch reads it identically
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$src/events.parquet")
    val dayNs = 86400L * 1000000000L
    val tsIsLong =
      events.schema("ts").dataType == org.apache.spark.sql.types.LongType
    def shiftedTs(r: Int) =
      if (tsIsLong) (col("ts") + lit(r * 90L * dayNs)).as("ts")
      else (col("ts") + expr(s"INTERVAL '${r * 90}' DAY")).as("ts")
    val eventsN = (0 until replicas).map { r =>
      events.select(
        (col("event_id") + lit(r * idStride)).as("event_id"),
        shiftedTs(r),
        // stride is a multiple of 20, so user_id % 20 (the symbol
        // derivation the g-queries use) is replica-invariant
        (col("user_id") + lit(r * 1000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)

    // Relational tables for the graph/join/maintenance ops (g7, j10,
    // j11, s24-s26): every key strides per replica, so each replica is
    // a DISJOINT subgraph — customers, suppliers, parts, orders and
    // their edges all grow linearly (the composition of a crawl graph
    // at 10×: mostly new domains), never duplicated edges a dedup or a
    // rank iteration would see as planted skew. Dates/values pass
    // through untouched: 10× orders in the same window is a denser
    // business, and the fixed date-range queries (s25) stay non-empty
    // at every scale because replica 0 is the unmodified fixture.
    val dimStride = 1000000L
    val ordersN = {
      val o = spark.read.parquet(s"$src/orders.parquet")
      (0 until replicas).map { r =>
        o.withColumn("o_orderkey", col("o_orderkey") + lit(r * idStride))
          .withColumn("o_custkey", col("o_custkey") + lit(r * dimStride))
      }.reduce(_ unionByName _)
    }
    val lineitemN = {
      val l = spark.read.parquet(s"$src/lineitem.parquet")
      (0 until replicas).map { r =>
        l.withColumn("l_orderkey", col("l_orderkey") + lit(r * idStride))
          .withColumn("l_suppkey", col("l_suppkey") + lit(r * dimStride))
          .withColumn("l_partkey", col("l_partkey") + lit(r * dimStride))
      }.reduce(_ unionByName _)
    }
    val partN = {
      val p = spark.read.parquet(s"$src/part.parquet")
      (0 until replicas).map { r =>
        p.withColumn("p_partkey", col("p_partkey") + lit(r * dimStride))
      }.reduce(_ unionByName _)
    }
    // customer strides on the SAME dimStride as orders' o_custkey, so
    // the orders⋈customer join (s35) stays replica-consistent: each
    // replica's orders join exactly their replica's customers
    val customerN = {
      val c = spark.read.parquet(s"$src/customer.parquet")
      (0 until replicas).map { r =>
        c.withColumn("c_custkey", col("c_custkey") + lit(r * dimStride))
      }.reduce(_ unionByName _)
    }

    docsN.repartition(32).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    embN.repartition(32).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    eventsN.repartition(32).write.mode("overwrite")
      .parquet(s"$out/events.parquet")
    ordersN.repartition(32).write.mode("overwrite")
      .parquet(s"$out/orders.parquet")
    lineitemN.repartition(32).write.mode("overwrite")
      .parquet(s"$out/lineitem.parquet")
    partN.repartition(32).write.mode("overwrite")
      .parquet(s"$out/part.parquet")
    customerN.repartition(32).write.mode("overwrite")
      .parquet(s"$out/customer.parquet")
    println(s"SCALEGEN docs=${spark.read.parquet(s"$out/documents.parquet").count()} " +
      s"emb=${spark.read.parquet(s"$out/embeddings.parquet").count()} " +
      s"events=${spark.read.parquet(s"$out/events.parquet").count()} " +
      s"orders=${spark.read.parquet(s"$out/orders.parquet").count()} " +
      s"lineitem=${spark.read.parquet(s"$out/lineitem.parquet").count()} out=$out")
    spark.stop()
  }
}
