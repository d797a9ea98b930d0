package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Shallow-clone and DESCRIBE-HISTORY contracts: a clone is one manifest
  * write (zero data bytes), diverges freely, never reaps its source's
  * files, and materializes via compact; history records every commit's
  * operation and file-level delta from pure metadata. */
class CloneHistorySpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_clone").toFile.toString + "/t"

  private def fsOf(root: String) =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("clone reads identically with zero data bytes under its root") {
    val src = freshRoot(); val dst = freshRoot()
    Snapshots.append(Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v"), src)
    Snapshots.append(Seq((3L, 4.0)).toDF("id", "v"), src)
    assert(Snapshots.shallowClone(spark, src, dst) == 1)
    assert(Snapshots.read(spark, dst).orderBy("id").collect().toSeq ==
      Snapshots.read(spark, src).orderBy("id").collect().toSeq)
    // the clone owns no data files — only the manifest exists
    assert(!fsOf(dst).exists(new HPath(s"$dst/data")))
  }

  test("clone and source diverge independently") {
    val src = freshRoot(); val dst = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), src)
    Snapshots.shallowClone(spark, src, dst)
    Snapshots.append(Seq((2L, 9.0)).toDF("id", "v"), dst)
    Snapshots.append(Seq((3L, 7.0)).toDF("id", "v"), src)
    assert(Snapshots.read(spark, dst).count() == 2)
    assert(Snapshots.read(spark, src).count() == 2)
    assert(Snapshots.read(spark, dst).agg(max("id")).head().getLong(0) == 2L)
    assert(Snapshots.read(spark, src).agg(max("id")).head().getLong(0) == 3L)
  }

  test("vacuum on the clone never deletes source bytes") {
    val src = freshRoot(); val dst = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), src)
    Snapshots.shallowClone(spark, src, dst)
    // retire the clone's v1 (which references the source) entirely
    Snapshots.overwrite(Seq((9L, 9.9)).toDF("id", "v"), dst)
    val (dropped, deleted) = Snapshots.vacuum(spark, dst, keepVersions = 1)
    assert(dropped == 1 && deleted == 0) // manifest gone, NO files reaped
    assert(Snapshots.read(spark, src).count() == 1) // source intact
  }

  test("a clone follows its renamed source through the _moved marker") {
    val src = freshRoot(); val dst = freshRoot()
    Snapshots.append(Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v"), src)
    // a narrow delete gives the clone a foreign DV sidecar too
    dmlMode(src)
    Snapshots.deleteWhere(spark, src, col("id") === 2L)
    Snapshots.shallowClone(spark, src, dst)
    // physically move the source (what ALTER TABLE RENAME does) and
    // leave the forwarding marker
    val moved = freshRoot()
    val fs = fsOf(src)
    fs.mkdirs(new HPath(moved).getParent)
    assert(fs.rename(new HPath(src), new HPath(moved)))
    Snapshots.recordMove(spark, src, moved)
    // the clone resolves data AND sidecar refs through the marker
    assert(Snapshots.read(spark, dst).orderBy("id")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 2.0)))
    // audit agrees: every reference resolves, nothing missing
    assert(Snapshots.audit(spark, dst)
      .filter(col("status") =!= "ok").count() == 0)
    // chained rename: move AGAIN, marker chain still resolves
    val moved2 = freshRoot()
    assert(fs.rename(new HPath(moved), new HPath(moved2)))
    Snapshots.recordMove(spark, moved, moved2)
    assert(Snapshots.read(spark, dst).count() == 1)
  }

  test("a dead unmarked source fails the clone read loudly, " +
      "and audit names the diagnosis") {
    val src = freshRoot(); val dst = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), src)
    Snapshots.shallowClone(spark, src, dst)
    val fs = fsOf(src)
    // the hazard: a rename that left NO marker (pre-marker tooling)
    val moved = freshRoot()
    assert(fs.rename(new HPath(src), new HPath(moved)))
    val e = intercept[IllegalStateException] {
      Snapshots.read(spark, dst).collect()
    }
    assert(e.getMessage.contains("_moved") &&
      e.getMessage.contains("renamed"))
    assert(Snapshots.audit(spark, dst)
      .filter(col("status") === "source_moved_or_dropped").count() > 0)
  }

  test("compact materializes the clone into a self-contained table") {
    val src = freshRoot(); val dst = freshRoot()
    Snapshots.append(Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v"), src)
    Snapshots.shallowClone(spark, src, dst)
    Snapshots.compact(spark, dst, numFiles = 1)
    fsOf(src).delete(new HPath(src), true) // source disappears entirely
    assert(Snapshots.read(spark, dst).count() == 2) // clone unaffected
  }

  test("clone carries stats, constraints, and supports version pinning") {
    val src = freshRoot(); val dst = freshRoot(); val dst1 = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), src)
    Snapshots.setConstraint(spark, src, "v_pos", "v > 0")
    Snapshots.append(Seq((2L, 3.0)).toDF("id", "v"), src)
    Snapshots.shallowClone(spark, src, dst)
    // constraints enforce on the clone's own writes
    intercept[IllegalArgumentException] {
      Snapshots.append(Seq((3L, -1.0)).toDF("id", "v"), dst)
    }
    // stats carried: metadata-only aggregation works against the clone
    assert(Snapshots.aggregateFromManifest(spark, dst, Seq("v"))
      .get.head().getDouble(3) == 3.0)
    // pinning clones the PAST version (v1: one row, no constraint yet)
    Snapshots.shallowClone(spark, src, dst1, version = 1)
    assert(Snapshots.read(spark, dst1).count() == 1)
    assert(Snapshots.constraints(spark, dst1).isEmpty)
  }

  test("bloom sidecars carry into the clone and still prune point reads") {
    val src = freshRoot(); val dst = freshRoot()
    Snapshots.append((0L until 50L).map(i => (i, i * 2.0)).toDF("id", "v"),
      src)
    Snapshots.setBloomColumns(spark, src, Seq("id"))
    (1 to 3).foreach(i => Snapshots.append(
      (0L until 50L).map(j => (i * 1000L + j, j * 1.0)).toDF("id", "v"),
      src))
    Snapshots.shallowClone(spark, src, dst)
    // the probe resolves absolute sidecar refs; rows must equal the scan
    val got = Snapshots.readWhere(spark, dst, col("id") === 2001L)
      .collect().toSeq
    assert(got == Snapshots.read(spark, dst).filter(col("id") === 2001L)
      .collect().toSeq)
    assert(got.nonEmpty)
  }

  test("clone refuses a destination that is already a table") {
    val src = freshRoot(); val dst = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), src)
    Snapshots.append(Seq((9L, 9.0)).toDF("id", "v"), dst)
    intercept[IllegalArgumentException] {
      Snapshots.shallowClone(spark, src, dst)
    }
  }

  test("history records each commit's operation and file-level delta") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 2.0), (2L, 3.0)).toDF("id", "v"), root)
    Snapshots.append(Seq((3L, 4.0)).toDF("id", "v"), root)
    Snapshots.setConstraint(spark, root, "v_pos", "v > 0")
    Snapshots.merge(spark, root, Seq((3L, 5.0)).toDF("id", "v"), Seq("id"))
    Snapshots.deleteWhere(spark, root, col("id") === 1L)
    Snapshots.compact(spark, root, numFiles = 1)
    val h = Snapshots.history(spark, root).orderBy("version").collect()
    assert(h.map(_.getString(2)).toSeq == Seq("append", "append",
      "add-constraint", "merge", "delete", "compact"))
    val byV = h.map(r => r.getInt(0) -> r).toMap
    // the DDL commit changes no files and adds no bytes
    assert(byV(3).getInt(4) == 0 && byV(3).getInt(5) == 0 &&
      byV(3).getLong(7) == 0L)
    // appends add files and bytes, remove none
    assert(byV(1).getInt(4) > 0 && byV(1).getInt(5) == 0 &&
      byV(1).getLong(7) > 0L)
    // compact rewrites: removes the old files, ends at exactly 1
    assert(byV(6).getInt(5) > 0 && byV(6).getInt(6) == 1)
    // every commit reports the correct running total
    assert(byV(2).getInt(6) == byV(1).getInt(6) + byV(2).getInt(4))
  }

  test("readAsOf resolves by commit instant; pre-table instants refuse") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), root)
    val between = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20) // commit instants are mtimes: give v2 a later clock
    Snapshots.append(Seq((2L, 3.0)).toDF("id", "v"), root)
    assert(Snapshots.readAsOf(spark, root, between).count() == 1)
    assert(Snapshots.readAsOf(spark, root,
      new java.sql.Timestamp(System.currentTimeMillis())).count() == 2)
    intercept[java.util.NoSuchElementException] {
      Snapshots.readAsOf(spark, root, new java.sql.Timestamp(0L))
    }
  }

  test("cleanOrphans reclaims aged crash garbage, spares live and young") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), root)
    val fs = fsOf(root)
    // plant a crashed commit: staged parquet no manifest references
    val ghost = new HPath(s"$root/data/ghost-commit/part-0.parquet")
    val out = fs.create(ghost, false)
    out.write(Array[Byte](1, 2, 3)); out.close()
    // young window: the orphan is spared (could be an in-flight stage)
    assert(Snapshots.cleanOrphans(spark, root) == 0)
    assert(fs.exists(ghost))
    // aged out (negative window puts the cutoff in the future): reaped,
    // together with its now-empty commit dir; live files untouched
    assert(Snapshots.cleanOrphans(spark, root, olderThanMs = -60000) == 1)
    assert(!fs.exists(new HPath(s"$root/data/ghost-commit")))
    assert(Snapshots.read(spark, root).count() == 1)
    // audit agrees: no orphans left
    assert(!Snapshots.audit(spark, root).collect()
      .exists(_.getString(1) == "orphan"))
  }

  test("cleanOrphans spares live deletion-vector sidecars") {
    val root = freshRoot()
    Snapshots.append((1L to 20L).map(i => (i, i * 2.0)).toDF("id", "v"),
      root)
    // a vector delete stages ONLY a _dv sidecar — its commit dir holds
    // zero parquet, which is exactly the shape cleanOrphans used to
    // mistake for crash residue and reclaim wholesale
    dmlMode(root)
    Snapshots.deleteWhere(spark, root, col("id") <= 5L)
    assert(Snapshots.cleanOrphans(spark, root, olderThanMs = -60000) == 0)
    // the table must still read, with the vector applied
    assert(Snapshots.read(spark, root).count() == 15)
    assert(Snapshots.read(spark, root).agg(min(col("id")))
      .head().getLong(0) == 6L)
  }

  test("history after vacuum reports NULL deltas for the oldest survivor") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), root)
    Snapshots.append(Seq((2L, 3.0)).toDF("id", "v"), root)
    // overwrite starts a fresh (full-manifest) lineage, so vacuum can
    // actually drop v1/v2 — delta chains retain their closure
    Snapshots.overwrite(Seq((3L, 4.0)).toDF("id", "v"), root)
    Snapshots.append(Seq((4L, 5.0)).toDF("id", "v"), root)
    Snapshots.vacuum(spark, root, keepVersions = 2)
    val h = Snapshots.history(spark, root).orderBy("version").collect()
    val oldest = h.head
    assert(oldest.getInt(0) > 1) // v1 was vacuumed
    // its v-1 is gone: the file delta cannot be attributed — NULL, not
    // "every carried file added"
    assert(oldest.isNullAt(4) && oldest.isNullAt(5) && oldest.isNullAt(7))
    assert(oldest.getInt(6) > 0) // running totals still real
    // the newest retained version still has a retained v-1: real delta
    assert(!h.last.isNullAt(4) && h.last.getInt(4) == 1)
  }

  test("history on a clone starts at the clone commit") {
    val src = freshRoot(); val dst = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), src)
    Snapshots.shallowClone(spark, src, dst)
    val h = Snapshots.history(spark, dst).collect()
    assert(h.length == 1 && h.head.getString(2) == "clone")
    assert(h.head.getInt(4) == h.head.getInt(6)) // all files "added"
  }
}
