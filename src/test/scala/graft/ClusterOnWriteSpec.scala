package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.ops.Snapshots

/** Write-time clustering ([[Snapshots.clusterForWrite]]): an ingest
  * into a table with DECLARED clustering keys range-partitions and
  * sorts the incoming frame, so per-file stats prune from the FIRST
  * append — without inflating the file count of small writes, and
  * never touching tables that declared nothing. */
class ClusterOnWriteSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType)))

  private def clusteredTable(): String = {
    val root = Files.createTempDirectory("graft_cow").toFile.toString + "/t"
    Snapshots.createTable(spark, root, schema,
      properties = Map("cluster.columns" -> "id"))
    root
  }

  /** ids 0..399 scattered across 4 partitions by hash — without write
    * shaping, every file spans ~the full key range. */
  private def scattered() =
    spark.range(400).select($"id", ($"id" * 2.0).as("v"))
      .repartition(4, pmod($"id", lit(17)))

  private def dataFiles(root: String): Int =
    Snapshots.pruneFiles(spark, root, lit(true))._1
      .count(_ => true)

  test("declared keys: appended files carry disjoint ranges, prune to 1") {
    val root = clusteredTable()
    Snapshots.append(scattered(), root)
    // a point predicate must keep exactly ONE of the 4 data files
    val (kept, skipped) = Snapshots.pruneFiles(spark, root, $"id" === 123)
    assert(kept.size == 1 && skipped.size >= 3, s"$kept / $skipped")
    // content identity: shaping reorders, never alters
    assert(Snapshots.read(spark, root).agg(count(lit(1)), sum($"id"),
      sum($"v")).head() == Row(400L, 79800L, 159600.0))
    // and a window count decides every file from stats (exact bounds)
    val r = Snapshots.countWhere(spark, root, $"id" >= 100 && $"id" < 300)
    assert(r.count == 200 && r.allMatchFiles >= 1 && r.scannedFiles <= 2, r)
  }

  test("incoming partition count is preserved — no small-file explosion") {
    val root = clusteredTable()
    val before = dataFiles(root)
    Snapshots.append(scattered(), root) // 4 partitions in
    assert(dataFiles(root) - before <= 4)
  }

  test("no declared keys: frame passes through unshaped") {
    val rootPlain = Files.createTempDirectory("graft_cow")
      .toFile.toString + "/t"
    Snapshots.append(scattered(), rootPlain)
    val (kept, _) = Snapshots.pruneFiles(spark, rootPlain, $"id" === 123)
    assert(kept.size == 4, kept.toString) // hash-scattered: all may match
  }

  test("streaming exactly-once appends cluster too; replays still no-op") {
    val root = clusteredTable()
    assert(Snapshots.idempotentAppend(scattered(), root, "w1", 1L).nonEmpty)
    assert(Snapshots.idempotentAppend(scattered(), root, "w1", 1L).isEmpty)
    val (kept, _) = Snapshots.pruneFiles(spark, root, $"id" === 321)
    assert(kept.size == 1, kept.toString)
  }

  test("several declared keys take the OPTIMIZE Z-layout: both prune") {
    val root = Files.createTempDirectory("graft_cow").toFile.toString + "/t"
    Snapshots.createTable(spark, root, schema,
      properties = Map("cluster.columns" -> "id,v"))
    Snapshots.append(scattered(), root)
    // with v = 2*id the Z-key narrows BOTH columns' per-file spans —
    // a predicate on either prunes
    val (byId, _) = Snapshots.pruneFiles(spark, root, $"id" === 123)
    val (byV, _) = Snapshots.pruneFiles(spark, root, $"v" === 246.0)
    assert(byId.size <= 2, byId.toString)
    assert(byV.size <= 2, byV.toString)
    assert(Snapshots.read(spark, root).count() == 400)
  }

  test("INSERT OVERWRITE (data verb) shapes the replacement content") {
    val root = clusteredTable()
    Snapshots.append(scattered(), root)
    Snapshots.overwriteData(spark, root,
      spark.range(400, 800).select($"id", ($"id" * 2.0).as("v"))
        .repartition(4, pmod($"id", lit(13))))
    val (kept, _) = Snapshots.pruneFiles(spark, root, $"id" === 555)
    assert(kept.size == 1, kept.toString)
    assert(Snapshots.read(spark, root).count() == 400)
  }
}
