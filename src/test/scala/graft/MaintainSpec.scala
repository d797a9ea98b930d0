package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}

import graft.ops.Snapshots

/** maintain() — the scheduled policy pass: compacts only past the file
  * threshold, retires history, reclaims aged orphans, and is a no-op on
  * a healthy table. */
class MaintainSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_maint").toFile.toString + "/t"

  test("folds high-debt deletion vectors without touching healthy files") {
    import org.apache.spark.sql.functions.col
    val root = freshRoot()
    // two files: ids 0..49 and 50..99
    Snapshots.append(spark.range(50).toDF("id").coalesce(1), root)
    Snapshots.append(spark.range(50, 100).toDF("id").coalesce(1), root)
    // trickle deletes: heavy debt on file 1 (20/50 = 40%), light debt
    // on file 2 (1/50 = 2%)
    dmlMode(root)
    Snapshots.deleteWhere(spark, root, col("id") < 20)
    Snapshots.deleteWhere(spark, root, col("id") === 99L)
    val before = Snapshots.read(spark, root)
      .as[Long].collect().sorted.toSeq
    val filesBefore = Snapshots.read(spark, root).inputFiles.toSet
    val r = Snapshots.maintain(spark, root, maxFiles = 64,
      keepVersions = 100, dvFoldFraction = 0.1)
    assert(r.compactedTo.isEmpty) // under the file threshold: no compact
    assert(r.dvFoldedFiles == 1) // only the 40% file folded
    // content identical; the light-debt file untouched by name
    assert(Snapshots.read(spark, root).as[Long].collect().sorted.toSeq ==
      before)
    val filesAfter = Snapshots.read(spark, root).inputFiles.toSet
    assert(filesAfter.intersect(filesBefore).size == 1)
    // the folded file's vector is retired; the light one's remains
    val hist = Snapshots.history(spark, root)
    assert(hist.head().getString(2) == "dv-fold")
    // a second pass is a no-op (debt below threshold everywhere)
    val r2 = Snapshots.maintain(spark, root, maxFiles = 64,
      keepVersions = 100, dvFoldFraction = 0.1)
    assert(r2.dvFoldedFiles == 0)
  }

  test("compacts past maxFiles, vacuums history, reaps aged orphans") {
    val root = freshRoot()
    (0 until 12).foreach(i =>
      Snapshots.append(Seq((i.toLong, i * 1.0)).toDF("id", "v"), root))
    // plant aged crash garbage
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val ghost = new HPath(s"$root/data/ghost/part-0.parquet")
    val out = fs.create(ghost, false); out.write(Array[Byte](9)); out.close()
    // keepVersions=1: only the compacted full manifest survives, so the
    // pre-compact files actually die (a larger keep retains them through
    // the delta CHAIN the kept version resolves by — by design)
    val r = Snapshots.maintain(spark, root, maxFiles = 6, targetFiles = 2,
      keepVersions = 1, orphanOlderThanMs = -60000)
    assert(r.compactedTo.nonEmpty)
    assert(r.versionsDropped > 0 && r.filesDeleted > 0)
    assert(r.orphansDeleted == 1)
    // the table reads exactly, compacted to the target
    assert(Snapshots.read(spark, root).count() == 12)
    assert(Snapshots.read(spark, root).inputFiles.length <= 2)
    assert(!fs.exists(ghost))
  }

  test("declared cluster keys resolve case-insensitively in maintenance") {
    // the same table declared once as "k,v" and once as "K,V": appends
    // accept both spellings, so maintain/optimize/optimizeWhere must too
    val runs = Seq("k,v", "K,V").map { keys =>
      val root = freshRoot()
      (0 until 8).foreach(i => Snapshots.append(
        (0 until 5).map(j => ((i * 5 + j).toLong, j * 1.0)).toDF("k", "v"),
        root))
      Snapshots.setProperty(spark, root, "cluster.columns", keys)
      val before = Snapshots.read(spark, root).as[(Long, Double)]
        .collect().toSeq.sorted
      val m = Snapshots.maintain(spark, root, maxFiles = 4, targetFiles = 2)
      assert(m.compactedTo.nonEmpty, keys)
      val cols = keys.split(",").toSeq
      val o = Snapshots.optimize(spark, root, cols, numFiles = 2)
      val w = Snapshots.optimizeWhere(spark, root, $"k" < 10L, cols,
        numFiles = 1)
      val after = Snapshots.read(spark, root).as[(Long, Double)]
        .collect().toSeq.sorted
      assert(after == before, keys)
      (m.compactedTo, o, w, after)
    }
    assert(runs(0) == runs(1))
  }

  test("healthy table: maintain is a metadata-only no-op") {
    val root = freshRoot()
    Snapshots.append((0L until 5L).map(i => (i, i * 1.0)).toDF("id", "v"),
      root)
    val v = Snapshots.currentVersion(spark, root).get
    val r = Snapshots.maintain(spark, root)
    assert(r == Snapshots.MaintainResult(None, 0, 0, 0))
    assert(Snapshots.currentVersion(spark, root).get == v)
  }
}
