package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Delta-manifest contract: an append's commit METADATA is O(batch)
  * (a `#delta` manifest naming only the staged files), chains are
  * depth-bounded by periodic full checkpoints, and every reader-facing
  * behavior — time travel, pruning stats, CDC, restore, vacuum,
  * exactly-once tags — is indistinguishable from the full-manifest
  * format. Without deltas a 1000-commit table pays O(commits × files)
  * cumulative manifest bytes; these tests pin both the correctness and
  * the boundedness. */
class DeltaManifestSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_delta").toFile.toString + "/t"

  private def fsOf(root: String): (FileSystem, HPath) = {
    val p = new HPath(root)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestBody(root: String, v: Int): Seq[String] = {
    val (fs, rootP) = fsOf(root)
    val in = fs.open(new HPath(new HPath(rootP, "_manifests"), f"v$v%09d"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  private def isDelta(root: String, v: Int): Boolean =
    manifestBody(root, v).exists(_.startsWith("#delta\t"))

  test("append chain: every version reads exactly; deltas are O(batch)") {
    val root = freshRoot()
    // 12 single-file appends: v1 full (first commit), v2-v9 deltas
    // (depth 1..8), v10 the forced checkpoint, v11-v12 deltas again
    (1 to 12).foreach { i =>
      Snapshots.append(
        Seq.tabulate(5)(j => (i.toLong * 100 + j, s"b$i")).toDF("id", "tag")
          .repartition(1), root)
    }
    assert(!isDelta(root, 1) && isDelta(root, 2) && isDelta(root, 9))
    assert(!isDelta(root, 10), "depth bound must force a full checkpoint")
    assert(isDelta(root, 11) && isDelta(root, 12))
    // time travel: version v holds exactly batches 1..v
    (1 to 12).foreach { v =>
      val got = Snapshots.read(spark, root, v).select("tag")
        .distinct().as[String].collect().toSet
      assert(got == (1 to v).map(i => s"b$i").toSet, s"version $v")
    }
    // boundedness: a delta names its own files only — the v12 delta
    // must not grow with the 11 prior commits, while the v10
    // checkpoint lists the whole table
    val deltaFiles = manifestBody(root, 12).count(!_.startsWith("#"))
    val ckptFiles = manifestBody(root, 10).count(!_.startsWith("#"))
    assert(deltaFiles == 1, s"delta listed $deltaFiles files")
    assert(ckptFiles == 10, s"checkpoint listed $ckptFiles files")
  }

  test("pruning stats chain through delta bases") {
    val root = freshRoot()
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      Snapshots.append(r.toDF("id").repartition(1), root)
    }
    assert(isDelta(root, 3))
    // the v1/v2 files' stats live in their own manifests — pruning at
    // v3 must still see them through the chain
    val (kept, skipped) = Snapshots.pruneFiles(spark, root, $"id" < 50L)
    assert(kept.size == 1 && skipped.size == 2)
    assert(Snapshots.readWhere(spark, root, $"id" < 50L).count() == 50)
  }

  test("merge and deleteWhere commit as deltas with removes") {
    val root = freshRoot()
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      Snapshots.append(
        r.toDF("id").withColumn("v", lit("old")).repartition(1), root)
    }
    // a narrow merge rewrites one file; its manifest must name only
    // the rewritten output and the removed input
    val mr = Snapshots.merge(spark, root,
      Seq((150L, "new")).toDF("id", "v"), Seq("id"))
    assert(mr.rewrittenFiles >= 1 && mr.untouchedFiles == 2)
    assert(isDelta(root, mr.version))
    val body = manifestBody(root, mr.version)
    assert(body.count(_.startsWith("#remove\t")) == 1)
    assert(body.count(!_.startsWith("#")) == mr.rewrittenFiles)
    val after = Snapshots.read(spark, root)
    assert(after.count() == 300)
    assert(after.filter($"id" === 150L).select("v").as[String]
      .collect().toSeq == Seq("new"))
    // untouched files' stats still prune post-merge
    val (kept, skipped) =
      Snapshots.pruneFiles(spark, root, $"id" >= 200L && $"id" < 250L)
    assert(skipped.size >= 2)
    assert(Snapshots.readWhere(spark, root, $"id" >= 200L).count() == 100)
    // DELETE: drops one whole file range, carries the rest implicitly
    val dr = Snapshots.deleteWhere(spark, root, $"id" >= 200L)
    assert(isDelta(root, dr.version))
    assert(Snapshots.read(spark, root).count() == 200)
    assert(Snapshots.read(spark, root).filter($"id" >= 200L).count() == 0)
    // pre-delete versions unaffected (time travel through the chain)
    assert(Snapshots.read(spark, root, mr.version).count() == 300)
  }

  test("every base+1 verb reads exactly on both sides of the checkpoint") {
    type Rows = Seq[(Long, Double)]
    def rows(xs: (Long, Double)*) = xs.toDF("k", "v")
    // the copy-on-write DML verbs run on a copy-on-write template, the
    // rest on a merge-on-read one (the three verbs commit by vector)
    val cowVerbs = Set("merge", "deleteWhere", "updateWhere")
    val verbs: Seq[(String, String => Any, Rows => Rows)] = Seq(
      ("append", r => Snapshots.append(rows((1000L, 1.0)), r),
        _ :+ ((1000L, 1.0))),
      ("merge", r => Snapshots.merge(spark, r,
          rows((5L, 50.0), (2000L, 2.0)), Seq("k")),
        b => b.filterNot(_._1 == 5L) ++ Seq((5L, 50.0), (2000L, 2.0))),
      ("deleteWhere", r => Snapshots.deleteWhere(spark, r, $"k" % 10L === 3L),
        _.filterNot(_._1 % 10 == 3)),
      ("updateWhere", r => Snapshots.updateWhere(spark, r, $"k" < 20L,
          Seq("v" -> lit(-1.0))),
        _.map { case (k, v) => (k, if (k < 20L) -1.0 else v) }),
      ("replaceWhere", r => Snapshots.replaceWhere(spark, r, $"k" >= 90L,
          rows((90L, 9.0), (95L, 9.5))),
        _.filterNot(_._1 >= 90L) ++ Seq((90L, 9.0), (95L, 9.5))),
      ("deleteMatching", r => Snapshots.deleteMatching(spark, r,
          Seq(7L, 8L).toDF("k"), Seq("k")),
        _.filterNot(x => x._1 == 7L || x._1 == 8L)),
      ("deleteWhere by vector",
        r => Snapshots.deleteWhere(spark, r, $"k" === 30L),
        _.filterNot(_._1 == 30L)),
      ("updateWhere by vector", r => Snapshots.updateWhere(spark, r,
          $"k" === 40L, Seq("v" -> lit(-4.0))),
        _.map { case (k, v) => (k, if (k == 40L) -4.0 else v) }),
      ("merge by vector", r => Snapshots.merge(spark, r,
          rows((50L, 5.0), (3000L, 3.0)), Seq("k")),
        b => b.filterNot(_._1 == 50L) ++ Seq((50L, 5.0), (3000L, 3.0))),
      ("setProperty", r => Snapshots.setProperty(spark, r, "x", "y"),
        identity),
      ("optimizeWhere", r => Snapshots.optimizeWhere(spark, r, $"k" < 50L,
          Seq("k"), numFiles = 1),
        identity),
      ("foldDeletionVectors", r => Snapshots.foldDeletionVectors(spark, r,
          maxDeletedFraction = 0.01),
        identity),
      ("setBloomColumns", r => Snapshots.setBloomColumns(spark, r, Seq("k")),
        identity),
      ("setConstraint", r => Snapshots.setConstraint(spark, r, "k_nonneg",
          "k >= 0"),
        identity),
      ("setColumnDefault", r => Snapshots.setColumnDefault(spark, r, "v",
          Some("0.0")),
        identity),
      ("analyzeColumns", r => Snapshots.analyzeColumns(spark, r),
        identity),
      ("optimizeIncremental", r => Snapshots.optimizeIncremental(spark, r,
          Seq("k"), numFiles = 1),
        identity))
    // two templates per mode: delta depth 1 (2 for copy-on-write, whose
    // v3 sets the mode back) and depth 8, so the next commit is the
    // checkpoint. v1 is created merge-on-read in one commit with the
    // data; every template carries a vector from v2
    def template(depth: Int, mor: Boolean): String = {
      val root = freshRoot()
      val data = (0L until 100L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(4, $"k")
      val props = Map(Snapshots.DmlModeKey -> "merge-on-read")
      Snapshots.commitReplaceTable(spark, root, data.schema, props,
        Map.empty, Seq(Snapshots.stageReplaceData(data, root, props)),
        mustNotExist = true)
      Snapshots.deleteWhere(spark, root, $"k" === 1L)
      if (!mor) dmlMode(root, mor = false)
      ((if (mor) 2 else 3) to depth).foreach(i =>
        Snapshots.setProperty(spark, root, "pad", i.toString))
      root
    }
    val dvAtV2 = (root: String) => manifestBody(root, 2)
      .filter(_.startsWith("#dv\t")).map(_.split('\t')(1))
    Seq(1 -> false, 8 -> true).foreach { case (depth, checkpoint) =>
      val morTmpl = template(depth, mor = true)
      val cowTmpl = template(depth max 2, mor = false)
      verbs.foreach { case (verb, run, applied) =>
        val root = freshRoot()
        val (fs, src) = fsOf(if (cowVerbs(verb)) cowTmpl else morTmpl)
        org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, new HPath(root),
          false, spark.sparkContext.hadoopConfiguration)
        val base = Snapshots.currentVersion(spark, root).get
        val before = Snapshots.read(spark, root, base).as[(Long, Double)]
          .collect().toSeq
        run(root)
        val v = Snapshots.currentVersion(spark, root).get
        val what = s"$verb at depth $base"
        assert(v == base + 1, what)
        assert(isDelta(root, v) == !checkpoint, what)
        assert(Snapshots.read(spark, root, v).as[(Long, Double)].collect()
          .toSeq.sorted == applied(before).sorted, what)
        if (checkpoint) {
          val body = manifestBody(root, v)
          val listed = body.filterNot(_.startsWith("#")).toSet
          val dvFiles = body.filter(_.startsWith("#dv\t"))
            .map(_.split('\t')(1))
          assert(dvFiles.forall(listed), s"$what: #dv for a removed file")
          dvAtV2(root).filter(listed).foreach(f =>
            assert(dvFiles.contains(f), s"$what: surviving $f lost its #dv"))
        }
      }
    }
  }

  test("changesSince spans delta and checkpoint boundaries") {
    val root = freshRoot()
    (1 to 12).foreach { i =>
      Snapshots.append(Seq(i.toLong).toDF("id").repartition(1), root)
    }
    // v10 is the checkpoint; from v5 the appended rows are 6..12 and
    // the checkpoint's re-listing of old files must NOT re-deliver them
    val delta = Snapshots.changesSince(spark, root, 5)
    assert(delta.as[Long].collect().toSet == (6L to 12L).toSet)
    assert(Snapshots.changesSince(spark, root, 12).count() == 0)
  }

  test("vacuum retains delta chains so every listed version stays readable") {
    val root = freshRoot()
    (1 to 5).foreach(i => Snapshots.append(Seq(i.toLong).toDF("id"), root))
    Snapshots.overwrite(Seq(100L).toDF("id"), root) // v6: full, new files
    (7 to 12).foreach(i => Snapshots.append(Seq(i.toLong).toDF("id"), root))
    val (fs, rootP) = fsOf(root)
    val v1Files = manifestBody(root, 1).filterNot(_.startsWith("#"))
    val (droppedVs, deletedFiles) = Snapshots.vacuum(spark, root, 3)
    // v10..v12 kept explicitly; their delta chain reaches back to the
    // v6 overwrite, so v6..v9 are chain-retained; v1..v5 drop
    assert(Snapshots.versions(spark, root) == (6 to 12))
    assert(droppedVs == 5 && deletedFiles > 0)
    // the pre-overwrite files are gone…
    assert(v1Files.forall(f => !fs.exists(new HPath(rootP, f))))
    // …and EVERY still-listed version reads completely
    (6 to 12).foreach { v =>
      assert(Snapshots.read(spark, root, v).count() == (v - 5).toLong,
        s"version $v after vacuum")
    }
    // audit agrees: nothing missing among retained versions
    val bad = Snapshots.audit(spark, root)
      .filter($"status" =!= "ok").count()
    assert(bad == 0)
  }

  test("restore works across a delta chain and survives deep vacuums") {
    val root = freshRoot()
    (1 to 6).foreach(i => Snapshots.append(Seq(i.toLong).toDF("id"), root))
    val restored = Snapshots.restore(spark, root, 2)
    assert(restored == 7)
    assert(Snapshots.read(spark, root).as[Long].collect().toSet ==
      Set(1L, 2L))
    // the restore commit is FULL — self-contained even if its source
    // version's chain is later vacuumed
    assert(!isDelta(root, 7))
    Snapshots.append(Seq(99L).toDF("id"), root) // v8, delta on v7
    Snapshots.vacuum(spark, root, 2) // keeps v7, v8 (chain base is v7)
    assert(Snapshots.versions(spark, root) == Seq(7, 8))
    assert(Snapshots.read(spark, root).as[Long].collect().toSet ==
      Set(1L, 2L, 99L))
  }

  test("exactly-once writer tags are found across delta manifests") {
    val root = freshRoot()
    (1 to 3).foreach(i => Snapshots.append(Seq(i.toLong).toDF("id"), root))
    assert(Snapshots.idempotentAppend(
      Seq(10L).toDF("id"), root, "w1", 0L).contains(4))
    Snapshots.append(Seq(11L).toDF("id"), root) // unrelated commit after
    // replay of batch 0 must be recognized through the chain scan
    assert(Snapshots.idempotentAppend(
      Seq(10L).toDF("id"), root, "w1", 0L).isEmpty)
    assert(Snapshots.idempotentAppend(
      Seq(12L).toDF("id"), root, "w1", 1L).contains(6))
    assert(Snapshots.read(spark, root).count() == 6)
  }

  test("unpinned concurrent DML all serialize; pinned stale token throws") {
    val root = freshRoot()
    Snapshots.append(
      (0L until 400L).toDF("id").withColumn("v", lit(0L)).repartition(4),
      root)
    // four writers race unpinned merges on disjoint key slices — the
    // retry loop must serialize every one of them (no lost updates,
    // no aborts), in SOME order
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val merges = (0 until 4).map { w =>
      Future {
        val src = (0L until 400L).filter(_ % 4 == w)
          .map(id => (id, id * 10 + w)).toDF("id", "v")
        Snapshots.merge(spark, root, src, Seq("id"))
      }
    }
    val results = Await.result(Future.sequence(merges), 120.seconds)
    assert(results.map(_.version).distinct.size == 4, "each merge commits")
    val got = Snapshots.read(spark, root).as[(Long, Long)].collect().toMap
    assert(got.size == 400)
    (0L until 400L).foreach { id =>
      assert(got(id) == id * 10 + id % 4, s"id $id")
    }
    // a racing unpinned DELETE also serializes
    val before = Snapshots.currentVersion(spark, root).get
    val deletes = (0 until 2).map { w =>
      Future(Snapshots.deleteWhere(spark, root, $"id" % 2 === w.toLong))
    }
    Await.result(Future.sequence(deletes), 120.seconds)
    assert(Snapshots.read(spark, root).count() == 0)
    // pinned (OCC token) still fails fast on a stale inspection
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.deleteWhere(spark, root, $"id" >= 0L,
        expectedVersion = before)
    }
  }

  test("schema evolution pins per-manifest through the chain") {
    val root = freshRoot()
    Snapshots.append(Seq(1L).toDF("id"), root)
    Snapshots.append(Seq((2L, "x")).toDF("id", "s"), root) // additive
    assert(isDelta(root, 2))
    val df = Snapshots.read(spark, root)
    assert(df.columns.toSeq == Seq("id", "s"))
    assert(df.filter($"id" === 1L).select("s").collect().head.isNullAt(0))
    // time travel to v1 uses v1's own pinned schema
    assert(Snapshots.read(spark, root, 1).columns.toSeq == Seq("id"))
  }
}
