package graft

import java.nio.file.Files

import graft.ops.Upsert

/** Upsert invariants behind the reference's ON CONFLICT DO UPDATE
  * (funding_rates_etl.py:103-108): newest wins, updates beat ties,
  * applying the same batch twice ≡ once. */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("k", "v", "ver")

  test("newest version wins; update beats existing on tie") {
    val existing = Seq(("a", "old", 1L), ("b", "keep", 5L)).toDF(cols: _*)
    val updates = Seq(("a", "new", 2L), ("b", "tie", 5L), ("c", "ins", 1L))
      .toDF(cols: _*)
    val out = Upsert.merge(existing, updates, Seq("k"), "ver")
      .orderBy("k").as[(String, String, Long)].collect().toSeq
    assert(out == Seq(("a", "new", 2L), ("b", "tie", 5L), ("c", "ins", 1L)))
  }

  test("upsertParquet is idempotent (same batch twice ≡ once)") {
    val dir = Files.createTempDirectory("upsert").toFile
    val path = s"$dir/t"
    val batch = Seq(("a", "x", 1L), ("b", "y", 2L)).toDF(cols: _*)
    Upsert.upsertParquet(batch, path, Seq("k"), "ver")
    val once = spark.read.parquet(path).orderBy("k").collect().toSeq
    Upsert.upsertParquet(batch, path, Seq("k"), "ver")
    val twice = spark.read.parquet(path).orderBy("k").collect().toSeq
    assert(once == twice)
  }

  test("upsertParquet merges across calls") {
    val dir = Files.createTempDirectory("upsert2").toFile
    val path = s"$dir/t"
    Upsert.upsertParquet(Seq(("a", "v1", 1L)).toDF(cols: _*), path, Seq("k"), "ver")
    Upsert.upsertParquet(Seq(("a", "v2", 2L), ("b", "w", 1L)).toDF(cols: _*),
      path, Seq("k"), "ver")
    val out = spark.read.parquet(path).orderBy("k")
      .as[(String, String, Long)].collect().toSeq
    assert(out == Seq(("a", "v2", 2L), ("b", "w", 1L)))
  }

  test("first write dedups in-batch duplicate keys (newest wins)") {
    val dir = Files.createTempDirectory("upsert4").toFile
    val path = s"$dir/t"
    Upsert.upsertParquet(
      Seq(("a", "old", 1L), ("a", "new", 2L)).toDF(cols: _*),
      path, Seq("k"), "ver")
    val out = spark.read.parquet(path).as[(String, String, Long)]
      .collect().toSeq
    assert(out == Seq(("a", "new", 2L)))
  }

  test("merge properties: idempotent, associative-by-batch, seeded sweep") {
    // seeded generator, evaluated against a reference fold — the
    // StatsPropertySpec pattern (scalacheck bridge is offline)
    val rnd = new scala.util.Random(42)
    (0 until 20).foreach { _ =>
      val universe = Seq("a", "b", "c", "d")
      def batch(sz: Int) = Seq.fill(sz)(
        (universe(rnd.nextInt(universe.size)),
          rnd.nextInt(100).toString, rnd.nextInt(5).toLong))
      val b1 = batch(6).toDF(cols: _*)
      val b2 = batch(6).toDF(cols: _*)
      val empty = b1.limit(0)
      // idempotence: applying a merged state to itself changes nothing
      val m1 = Upsert.merge(empty, b1, Seq("k"), "ver")
      val m1Again = Upsert.merge(m1, m1, Seq("k"), "ver")
      assert(m1Again.orderBy("k", "v").collect().toSeq ==
        m1.orderBy("k", "v").collect().toSeq)
      // one row per key always
      val m12 = Upsert.merge(m1, b2, Seq("k"), "ver")
      val keys = m12.select("k").collect().map(_.getString(0)).toSeq
      assert(keys.distinct.size == keys.size)
      // batch-at-once ≡ batch-then-batch for disjoint-version updates:
      // every key's winner is the max (ver, isNew-tag, payload) — check
      // winners against a driver-side fold of the same comparison
      val all =
        m1.as[(String, String, Long)].collect().toSeq.map(r => (r, 0)) ++
          b2.as[(String, String, Long)].collect().toSeq.map(r => (r, 1))
      val expect = all.groupBy(_._1._1).map { case (k, rows) =>
        // mirror merge's struct max: (version, updates-beat-existing tag,
        // then the remaining payload column)
        val winner = rows.maxBy { case ((_, v, ver), tag) => (ver, tag, v) }
        k -> (winner._1._2, winner._1._3)
      }
      val got = m12.as[(String, String, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == expect)
    }
  }

  // ---- crash recovery around the stage-and-swap --------------------------

  test("interrupted whole-table swap is healed: parked copy restored, not lost") {
    val dir = Files.createTempDirectory("upsert6").toFile
    val path = s"$dir/t"
    Upsert.upsertParquet(Seq(("a", "v1", 1L)).toDF(cols: _*),
      path, Seq("k"), "ver")
    // simulate a crash between the two swap renames: the table has been
    // renamed aside, its replacement never landed
    assert(new java.io.File(path).renameTo(new java.io.File(s"${path}__old__")))
    assert(!new java.io.File(path).exists)
    // next upsert must first restore the parked copy, then merge into it
    Upsert.upsertParquet(Seq(("b", "w1", 1L)).toDF(cols: _*),
      path, Seq("k"), "ver")
    val out = spark.read.parquet(path).orderBy("k")
      .as[(String, String, Long)].collect().toSeq
    assert(out == Seq(("a", "v1", 1L), ("b", "w1", 1L)))
    assert(!new java.io.File(s"${path}__old__").exists)
  }

  test("a hive-partitioned table's parked copy never leaks into its replacement") {
    val pcols = Seq("k", "v", "ver", "part")
    val dir = Files.createTempDirectory("upsert7").toFile
    val path = s"$dir/t"
    Seq(("1", "a", 1L, "A"), ("2", "b", 1L, "B")).toDF(pcols: _*)
      .write.partitionBy("part").parquet(path)
    // simulate a whole-table swap that died after its second rename: the
    // partitioned copy is parked, its flat replacement (key 2 deleted)
    // has landed
    assert(new java.io.File(path).renameTo(new java.io.File(s"${path}__old__")))
    Seq(("1", "a", 1L, "A")).toDF(pcols: _*).write.parquet(path)
    // recovery must discard the parked copy, not move its part= dirs in
    Upsert.upsertParquet(Seq(("3", "c", 1L, "C")).toDF(pcols: _*),
      path, Seq("k"), "ver")
    val keys = spark.read.parquet(path).select("k").as[String]
      .collect().sorted.toSeq
    assert(keys == Seq("1", "3"))
    assert(!new java.io.File(path).list().exists(_.startsWith("part=")))
    assert(!new java.io.File(s"${path}__old__").exists)
  }

  test("upsert into a hive-partitioned table keeps its partition dirs") {
    val pcols = Seq("k", "v", "ver", "part")
    val dir = Files.createTempDirectory("upsert8").toFile
    val path = s"$dir/t"
    Seq(("1", "a", 1L, "A"), ("2", "b", 1L, "B")).toDF(pcols: _*)
      .write.partitionBy("part").parquet(path)
    Upsert.upsertParquet(
      Seq(("2", "b2", 2L, "B"), ("3", "c", 1L, "C")).toDF(pcols: _*),
      path, Seq("k"), "ver")
    assert(new java.io.File(path).list().filter(_.startsWith("part="))
      .sorted.toSeq == Seq("part=A", "part=B", "part=C"))
    val rows = spark.read.parquet(path).select(pcols.head, pcols.tail: _*)
      .as[(String, String, Long, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq(("1", "a", 1L, "A"), ("2", "b2", 2L, "B"),
      ("3", "c", 1L, "C")))
  }
}
