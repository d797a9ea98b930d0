package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Metadata-only aggregate contract ([[Snapshots.aggregateFromManifest]]):
  * exact-or-refuse, and provably zero data files opened — the answer must
  * survive the data bytes being DELETED, which no scan-based plan could. */
class MetaAggSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_meta").toFile.toString + "/t"

  test("equals the scan aggregate exactly, across multi-commit history") {
    val root = freshRoot()
    val df = Seq(
      (1L, 10.5, "a"), (2L, -3.25, "b"), (3L, 99.0, "c"),
      (4L, 0.0, "d"), (5L, 7.75, "e")).toDF("id", "v", "s")
    Snapshots.append(df.filter($"id" <= 2), root)
    Snapshots.append(df.filter($"id" > 2 && $"id" <= 4), root)
    Snapshots.append(df.filter($"id" > 4), root)
    val meta = Snapshots.aggregateFromManifest(spark, root, Seq("id", "v"))
      .get.head()
    val scan = Snapshots.read(spark, root)
      .agg(count(lit(1L)).as("n"), count($"id"), min($"id"), max($"id"),
        count($"v"), min($"v"), max($"v")).head()
    assert(meta == scan)
  }

  test("null handling: count skips nulls; all-null column yields null bounds") {
    val root = freshRoot()
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, null), (2L, null), (null, null)).toDF("id", "v")
    Snapshots.append(df, root)
    val meta = Snapshots.aggregateFromManifest(spark, root, Seq("id", "v"))
      .get.head()
    assert(meta == Row(3L, 2L, 1L, 2L, 0L, null, null))
  }

  test("zero data files opened: the answer survives deleting the data bytes") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 5.0), (2L, 9.0)).toDF("id", "v"), root)
    Snapshots.append(Seq((3L, -1.0)).toDF("id", "v"), root)
    val before = Snapshots.aggregateFromManifest(spark, root, Seq("v"))
      .get.head()
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new HPath(s"$root/data"), true)) // burn the data
    val after = Snapshots.aggregateFromManifest(spark, root, Seq("v"))
      .get.head()
    assert(after == before && before == Row(3L, 3L, -1.0, 9.0))
  }

  test("empty part-files (empty write partitions) stay provable") {
    val root = freshRoot()
    // 2 rows forced through 8 partitions → ~6 zero-row parquet files
    Snapshots.append(
      Seq((1L, 5.0), (2L, 9.0)).toDF("id", "v").repartition(8), root)
    val meta = Snapshots.aggregateFromManifest(spark, root, Seq("v"))
      .get.head()
    assert(meta == Row(2L, 2L, 5.0, 9.0))
  }

  test("exact-or-refuse: string columns and unknown columns refuse") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "alpha")).toDF("id", "s"), root)
    assert(Snapshots.aggregateFromManifest(spark, root, Seq("s")).isEmpty)
    assert(Snapshots.aggregateFromManifest(spark, root, Seq("nope")).isEmpty)
    assert(Snapshots.aggregateFromManifest(spark, root, Seq("id")).nonEmpty)
  }

  test("exact-or-refuse: files predating an added column refuse that column") {
    val root = freshRoot()
    Snapshots.append(Seq(Tuple1(1L)).toDF("id"), root)
    Snapshots.append(Seq((2L, 4.5)).toDF("id", "v"), root) // additive evolve
    // v1's file has no stats line for `v` — its rows read as NULL there,
    // which the manifest cannot prove, so the column refuses…
    assert(Snapshots.aggregateFromManifest(spark, root, Seq("v")).isEmpty)
    // …while columns every file covers (and bare count(*)) still answer
    val meta = Snapshots.aggregateFromManifest(spark, root, Seq("id"))
      .get.head()
    assert(meta == Row(2L, 2L, 1L, 2L))
  }

  test("rename-safe: resolves under the logical name after RENAME COLUMN") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 3.0), (2L, 8.0)).toDF("id", "v"), root)
    Snapshots.renameColumn(spark, root, "v", "price")
    Snapshots.append(Seq((3L, 1.0)).toDF("id", "price"), root)
    val meta = Snapshots.aggregateFromManifest(spark, root, Seq("price"))
      .get.head()
    assert(meta == Row(3L, 3L, 1.0, 8.0))
  }

  test("time travel: a pinned version aggregates that version") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 5.0)).toDF("id", "v"), root)
    Snapshots.append(Seq((2L, 50.0)).toDF("id", "v"), root)
    val v1 = Snapshots.aggregateFromManifest(spark, root, Seq("v"), version = 1)
      .get.head()
    assert(v1 == Row(1L, 1L, 5.0, 5.0))
  }

  test("deletion vectors: count(*) stays exact, per-column refuses") {
    val root = freshRoot()
    Snapshots.append((1L to 50L).map(i => (i, i * 1.0)).toDF("id", "v"), root)
    dmlMode(root)
    Snapshots.deleteWhere(spark, root,
      org.apache.spark.sql.functions.col("id") % 7 === 0)
    // overlapping second trickle on the same file's positions
    Snapshots.deleteWhere(spark, root,
      org.apache.spark.sql.functions.col("id") % 14 === 0 ||
        org.apache.spark.sql.functions.col("id") === 1L)
    val scanned = Snapshots.read(spark, root).count()
    val meta = Snapshots.aggregateFromManifest(spark, root, Nil).get.head()
    assert(meta.getLong(0) == scanned)
    // per-column stats are bounds under a vector: exact-or-refuse
    assert(Snapshots.aggregateFromManifest(spark, root, Seq("v")).isEmpty)
    // a rewrite retires the vectors: full stats provable again
    Snapshots.compact(spark, root, numFiles = 1)
    assert(Snapshots.aggregateFromManifest(spark, root, Seq("v"))
      .get.head().getLong(0) == scanned)
  }
}
