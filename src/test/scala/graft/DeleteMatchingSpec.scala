package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** CDC tombstone deletes: frame-of-keys DELETE with merge-style
  * footprint pruning — matched rows go, unmatched tombstones no-op,
  * untouched files carry by name, NULL tombstone keys never match. */
class DeleteMatchingSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_dm").toFile.toString + "/t"

  test("deletes exactly the rows whose key tuples match") {
    val root = freshRoot()
    Snapshots.append((1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v"), root)
    val r = Snapshots.deleteMatching(spark, root,
      Seq(3L, 7L, 99L).toDF("id"), Seq("id"))
    assert(r.version == 2)
    assert(Snapshots.read(spark, root).select("id").as[Long]
      .collect().sorted.toSeq == (1L to 20L).filterNot(Set(3L, 7L)))
  }

  test("key footprint prunes: disjoint files carry untouched") {
    val root = freshRoot()
    Snapshots.append((1L to 10L).map(i => (i, 0.0)).toDF("id", "v"), root)
    Snapshots.append((11L to 20L).map(i => (i, 0.0)).toDF("id", "v"), root)
    Snapshots.append((21L to 30L).map(i => (i, 0.0)).toDF("id", "v"), root)
    val r = Snapshots.deleteMatching(spark, root,
      Seq(14L, 16L).toDF("id"), Seq("id"))
    assert(r.untouchedFiles >= 2) // 1-10 and 21-30 files disproven
    assert(Snapshots.read(spark, root).count() == 28)
  }

  test("multi-key tuples; duplicates and NULL keys are harmless") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a", 1.0), (1L, "b", 2.0), (2L, "a", 3.0))
      .toDF("k1", "k2", "v"), root)
    val ts = Seq((Some(1L), Some("a")), (Some(1L), Some("a")),
      (None: Option[Long], Some("a")), (Some(2L), None: Option[String]))
      .toDF("k1", "k2")
    Snapshots.deleteMatching(spark, root, ts, Seq("k1", "k2"))
    // only (1,a) matched; null-keyed tombstones never match
    assert(Snapshots.read(spark, root).select("k1", "k2").as[(Long, String)]
      .collect().toSet == Set((1L, "b"), (2L, "a")))
  }

  test("no possible match: no commit") {
    val root = freshRoot()
    Snapshots.append((1L to 5L).map(i => (i, 0.0)).toDF("id", "v"), root)
    val r = Snapshots.deleteMatching(spark, root,
      Seq(100L, 200L).toDF("id"), Seq("id"))
    assert(r.version == 1 && Snapshots.versions(spark, root) == Seq(1))
    // empty tombstone frame: also a no-op
    val r2 = Snapshots.deleteMatching(spark, root,
      spark.emptyDataset[Long].toDF("id"), Seq("id"))
    assert(r2.version == 1)
  }

  test("big tombstone batch beyond the in-set cap uses range footprint") {
    val root = freshRoot()
    Snapshots.append((1L to 2000L).map(i => (i, 0.0)).toDF("id", "v"), root)
    val ts = spark.range(1, 2000, 2).toDF("id") // 1000 odd keys
    Snapshots.deleteMatching(spark, root, ts, Seq("id"))
    val left = Snapshots.read(spark, root).select("id").as[Long].collect()
    assert(left.length == 1000 && left.forall(_ % 2 == 0))
  }

  test("respects deletion vectors already on rewritten files") {
    val root = freshRoot()
    Snapshots.append((1L to 10L).map(i => (i, 0.0)).toDF("id", "v"), root)
    dmlMode(root)
    Snapshots.deleteWhere(spark, root, col("id") === 1L)
    Snapshots.deleteMatching(spark, root, Seq(2L).toDF("id"), Seq("id"))
    assert(Snapshots.read(spark, root).select("id").as[Long]
      .collect().sorted.toSeq == (3L to 10L))
  }
}
