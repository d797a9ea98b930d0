package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Snapshot-table contract: commits are atomic CAS'd manifests, every
  * retained version reads back exactly, a reader pinned to a version is
  * untouchable by later commits (the isolation swaps cannot give), and
  * vacuum is the only thing that ever deletes data. */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_snap").toFile.toString + "/t"

  test("append/overwrite version history and time travel") {
    val root = freshRoot()
    assert(Snapshots.versions(spark, root).isEmpty)
    assert(Snapshots.append(Seq(1L, 2L).toDF("id"), root) == 1)
    assert(Snapshots.append(Seq(3L).toDF("id"), root) == 2)
    assert(Snapshots.overwrite(Seq(9L).toDF("id"), root) == 3)
    assert(Snapshots.versions(spark, root) == Seq(1, 2, 3))
    // latest = the overwrite; older versions stay readable exactly
    assert(Snapshots.read(spark, root).as[Long].collect().toSet == Set(9L))
    assert(Snapshots.read(spark, root, 2).as[Long].collect().toSet ==
      Set(1L, 2L, 3L))
    assert(Snapshots.read(spark, root, 1).as[Long].collect().toSet ==
      Set(1L, 2L))
  }

  test("a pinned reader is isolated from later commits") {
    val root = freshRoot()
    Snapshots.append(spark.range(100).toDF(), root)
    val pinned = Snapshots.read(spark, root) // resolves v1's file list NOW
    Snapshots.overwrite(spark.range(5).toDF(), root)
    Snapshots.append(spark.range(7).toDF(), root)
    // the pinned plan still reads v1's immutable files — full old content
    assert(pinned.count() == 100)
    assert(Snapshots.read(spark, root).count() == 5 + 7)
  }

  test("interrupted-commit garbage is invisible and does not block") {
    val root = freshRoot()
    Snapshots.append(Seq(1L).toDF("id"), root)
    // plant the two crash artifacts: a dot-temp manifest (died before
    // rename) and an orphan staged data dir (died before manifest write)
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val tmp = new HPath(s"$root/_manifests/.tmp-crashed")
    val out = fs.create(tmp, false)
    out.write("data/ghost/part-0.parquet\n".getBytes("UTF-8")); out.close()
    fs.mkdirs(new HPath(s"$root/data/orphan-commit"))
    assert(Snapshots.versions(spark, root) == Seq(1)) // tmp not a version
    assert(Snapshots.read(spark, root).count() == 1) // and not read
    assert(Snapshots.append(Seq(2L).toDF("id"), root) == 2) // not blocked
    assert(Snapshots.read(spark, root).count() == 2)
  }

  test("append retries through a lost CAS race losslessly") {
    val root = freshRoot()
    Snapshots.append(Seq(1L).toDF("id"), root)
    // simulate a racing writer: steal version 2 with a manifest that
    // carries v1's files plus nothing (a no-op append by the rival)
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val v1 = fs.open(new HPath(f"$root/_manifests/v${1}%09d"))
    val v1Files = scala.io.Source.fromInputStream(v1, "UTF-8").mkString
    v1.close()
    val stolen = fs.create(new HPath(f"$root/_manifests/v${2}%09d"), false)
    stolen.write(v1Files.getBytes("UTF-8")); stolen.close()
    // our append must land as v3 ON TOP of the rival's v2 file list
    assert(Snapshots.append(Seq(2L).toDF("id"), root) == 3)
    assert(Snapshots.read(spark, root).as[Long].collect().toSet ==
      Set(1L, 2L))
  }

  test("idempotentAppend: replayed batches commit exactly once") {
    val root = freshRoot()
    assert(Snapshots.idempotentAppend(
      Seq(1L, 2L).toDF("id"), root, "ingest", batchId = 0) == Some(1))
    assert(Snapshots.idempotentAppend(
      Seq(3L).toDF("id"), root, "ingest", batchId = 1) == Some(2))
    // foreachBatch replay after a restart re-offers batch 1: skipped
    assert(Snapshots.idempotentAppend(
      Seq(3L).toDF("id"), root, "ingest", batchId = 1).isEmpty)
    // and a stale batch id below the high-water mark is also skipped
    assert(Snapshots.idempotentAppend(
      Seq(1L, 2L).toDF("id"), root, "ingest", batchId = 0).isEmpty)
    assert(Snapshots.read(spark, root).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
    // a second writer is independent state: its batch 0 still lands
    assert(Snapshots.idempotentAppend(
      Seq(10L).toDF("id"), root, "other-writer", batchId = 0) == Some(3))
    assert(Snapshots.read(spark, root).count() == 4)
    // batch commits interleave with plain commits without confusion
    Snapshots.append(Seq(20L).toDF("id"), root)
    assert(Snapshots.idempotentAppend(
      Seq(30L).toDF("id"), root, "ingest", batchId = 2) == Some(5))
    assert(Snapshots.read(spark, root).count() == 6)
  }

  test("compact rewrites many small commits into few files, same content") {
    val root = freshRoot()
    // a streaming writer's residue: 6 tiny commits, several files each
    (0 until 6).foreach(i =>
      Snapshots.idempotentAppend(
        spark.range(i * 10, i * 10 + 10).repartition(3).toDF(),
        root, "stream", batchId = i))
    val before = Snapshots.read(spark, root)
    val beforeRows = before.as[Long].collect().sorted.toSeq
    assert(before.inputFiles.length >= 12) // the small-file problem
    val v = Snapshots.compact(spark, root, numFiles = 2)
    val after = Snapshots.read(spark, root)
    assert(after.inputFiles.length <= 2)
    assert(after.as[Long].collect().sorted.toSeq == beforeRows)
    // pre-compaction versions still time-travel
    assert(Snapshots.read(spark, root, v - 1).count() == 60)
    // vacuum then reclaims the small files
    val (_, deleted) = Snapshots.vacuum(spark, root, keepVersions = 1)
    assert(deleted >= 12)
    assert(Snapshots.read(spark, root).as[Long].collect().sorted.toSeq ==
      beforeRows)
  }

  test("optimize clusters the current version in place, content-identical") {
    val root = freshRoot()
    // scattered 64x64 grid arriving as 4 streaming appends
    val grid = spark.range(4096)
      .select((col("id") % 64).as("x"), (col("id") / 64).as("y"),
        col("id").as("payload"))
    (0 until 4).foreach(i =>
      Snapshots.append(grid.filter(col("payload") % 4 === i).repartition(4), root))
    val v = Snapshots.optimize(spark, root, Seq("x", "y"),
      numFiles = 16, bits = 6)
    val back = Snapshots.read(spark, root)
    // content identical, clustered into the requested file count
    assert(back.count() == 4096)
    assert(back.agg(sum("payload")).head().getLong(0) == (0L until 4096L).sum)
    assert(back.inputFiles.length <= 16)
    // the Morton property holds on the optimized files: both axes narrow
    def avgSpan(c: String): Double = {
      val spans = back.groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).cast("double").as("s"))
        .select("s").as[Double].collect()
      spans.sum / spans.length / 63.0
    }
    assert(avgSpan("x") < 0.5 && avgSpan("y") < 0.5,
      s"spans ${avgSpan("x")} ${avgSpan("y")}")
    // pre-optimize content still time-travels
    assert(Snapshots.read(spark, root, v - 1).count() == 4096)
  }

  test("optimizeIncremental: the second pass touches ONLY files " +
      "committed since the first; clustered files carry byte-identical") {
    val root = freshRoot()
    val grid = spark.range(4096)
      .select((col("id") % 64).as("x"), (col("id") / 64).as("y"),
        col("id").as("payload"))
    (0 until 4).foreach(i =>
      Snapshots.append(grid.filter(col("payload") % 8 === i)
        .repartition(4), root))
    // first pass: no marker yet — full layout, plants the marker
    val v1 = Snapshots.optimizeIncremental(spark, root, Seq("x", "y"),
      numFiles = 8, bits = 6)
    assert(Snapshots.tableProperties(spark, root)
      .get("graft.optimize.through").contains(v1.toString))
    val layout1 = Snapshots.read(spark, root).inputFiles.toSet
    // debt-free: NO commit, the marker stands
    assert(Snapshots.optimizeIncremental(spark, root, Seq("x", "y"),
      numFiles = 8, bits = 6) == v1)
    // new debt arrives
    (4 until 8).foreach(i =>
      Snapshots.append(grid.filter(col("payload") % 8 === i)
        .repartition(4), root))
    val v2 = Snapshots.optimizeIncremental(spark, root, Seq("x", "y"),
      numFiles = 8, bits = 6)
    val layout2 = Snapshots.read(spark, root).inputFiles.toSet
    // every first-pass file carries BY NAME (byte-identical — never
    // read, never rewritten); only the fresh appends re-clustered
    assert(layout1.subsetOf(layout2),
      s"first layout disturbed: ${(layout1 -- layout2).take(3)}")
    assert((layout2 -- layout1).size <= 8)
    // content identical across the whole history
    val back = Snapshots.read(spark, root)
    assert(back.count() == 4096)
    assert(back.agg(sum("payload")).head().getLong(0) ==
      (0L until 4096L).sum)
    assert(Snapshots.tableProperties(spark, root)
      .get("graft.optimize.through").contains(v2.toString))
    // maintain drives the incremental pass once debt crosses maxFiles
    Snapshots.setProperty(spark, root, "cluster.columns", "x,y")
    (0 until 6).foreach(i =>
      Snapshots.append(grid.filter(col("payload") % 8 === 7)
        .limit(10).repartition(2), root))
    val before = Snapshots.read(spark, root).inputFiles.toSet
    val r = Snapshots.maintain(spark, root, maxFiles = 8,
      targetFiles = 4, keepVersions = 100)
    assert(r.compactedTo.nonEmpty)
    val after = Snapshots.read(spark, root).inputFiles.toSet
    // the pre-debt clustered layout still carries untouched
    assert(layout2.subsetOf(after))
    assert(before.size > after.size)
    // runt consolidation: with a byte floor, earlier sweeps' small
    // files re-cluster together instead of accreting mini-layouts
    Snapshots.optimizeIncremental(spark, root, Seq("x", "y"),
      numFiles = 4, bits = 6, minFileBytes = Long.MaxValue)
    val consolidated = Snapshots.read(spark, root).inputFiles.toSet
    assert(consolidated.intersect(after).isEmpty,
      "every runt (here: all files) must have been re-clustered")
    assert(Snapshots.read(spark, root).count() == 4096 + 60)
  }

  test("compact refuses to clobber a commit that raced past it") {
    val root = freshRoot()
    Snapshots.append(Seq(1L).toDF("id"), root)
    // a writer lands v2 while the compactor is reading v1: the
    // compactor's CAS on v2 must fail loudly, never silently drop the
    // racer's rows (compact is content-identical or nothing)
    val fs = new HPath(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val v1 = fs.open(new HPath(f"$root/_manifests/v${1}%09d"))
    val v1Files = scala.io.Source.fromInputStream(v1, "UTF-8").mkString
    v1.close()
    val stolen = fs.create(new HPath(f"$root/_manifests/v${2}%09d"), false)
    stolen.write(v1Files.getBytes("UTF-8")); stolen.close()
    intercept[java.util.ConcurrentModificationException] {
      // the compactor inspected v1 (its OCC token) but the racer's v2
      // already owns that slot — the CAS must fail, not overwrite
      Snapshots.compact(spark, root, numFiles = 1, expectedVersion = 1)
    }
    // the racer's version is intact and still current
    assert(Snapshots.versions(spark, root) == Seq(1, 2))
  }

  test("advanceVersioned: exactly-once durable rollup across replays") {
    import graft.ops.IncrementalAgg
    val root = freshRoot()
    val b0 = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("k", "v")
    val b1 = Seq(("a", 2.0), ("c", 5.0)).toDF("k", "v")
    assert(IncrementalAgg.advanceVersioned(root, b0, Seq("k"), "v",
      "rollup", batchId = 0).nonEmpty)
    assert(IncrementalAgg.advanceVersioned(root, b1, Seq("k"), "v",
      "rollup", batchId = 1).nonEmpty)
    // a replay of batch 1 (restart recovery) must not double-count
    assert(IncrementalAgg.advanceVersioned(root, b1, Seq("k"), "v",
      "rollup", batchId = 1).isEmpty)
    val got = IncrementalAgg.finalize(Snapshots.read(spark, root))
      .orderBy("k").select("k", "n", "sum_value")
      .as[(String, Long, Double)].collect().toSeq
    assert(got == Seq(("a", 3L, 6.0), ("b", 1L, 10.0), ("c", 1L, 5.0)))
    // and the pre-batch-1 state is still time-travel-readable
    val v1 = IncrementalAgg.finalize(Snapshots.read(spark, root, 1))
      .orderBy("k").select("k", "n").as[(String, Long)].collect().toSeq
    assert(v1 == Seq(("a", 2L), ("b", 1L)))
  }

  test("diff: appends surface as inserts and read ONLY the new files") {
    val root = freshRoot()
    Snapshots.append(spark.range(100).toDF("id"), root)
    Snapshots.append(spark.range(100, 130).toDF("id"), root)
    val d = Snapshots.diff(spark, root, 1, 2)
    assert(d.filter($"change_type" === "delete").isEmpty)
    assert(d.filter($"change_type" === "insert").select("id")
      .as[Long].collect().toSet == (100L until 130L).toSet)
    // file-level pruning: v1's files are in both manifests and cancel
    // without being read — the diff plan scans only v2's new files
    val v1Files = Snapshots.read(spark, root, 1).inputFiles.toSet
    assert(d.inputFiles.toSet.intersect(v1Files).isEmpty)
    assert(d.inputFiles.nonEmpty)
  }

  test("diff: an overwrite decomposes into row-level inserts + deletes") {
    val root = freshRoot()
    Snapshots.append(spark.range(10).toDF("id"), root)
    // rewrite keeps 3..9 (new files!), drops 0..2, adds 100..101
    Snapshots.overwrite(
      spark.range(3, 10).toDF("id")
        .unionByName(spark.range(100, 102).toDF("id")), root)
    val d = Snapshots.diff(spark, root, 1, 2)
    assert(d.filter($"change_type" === "insert").select("id")
      .as[Long].collect().toSet == Set(100L, 101L))
    assert(d.filter($"change_type" === "delete").select("id")
      .as[Long].collect().toSet == Set(0L, 1L, 2L))
  }

  test("diff: multiset semantics — k extra copies diff as k inserts") {
    val root = freshRoot()
    Snapshots.append(Seq(1L, 1L, 2L).toDF("id"), root)
    Snapshots.overwrite(Seq(1L, 1L, 1L, 1L, 2L).toDF("id"), root)
    val d = Snapshots.diff(spark, root, 1, 2)
    assert(d.filter($"change_type" === "insert").select("id")
      .as[Long].collect().toSeq == Seq(1L, 1L))
    assert(d.filter($"change_type" === "delete").isEmpty)
    // identical versions (re-overwrite with same content) diff empty
    Snapshots.overwrite(Snapshots.read(spark, root, 2), root)
    assert(Snapshots.diff(spark, root, 2, 3).isEmpty)
  }

  test("vacuum deletes only unreferenced files, keeps retained versions") {
    val root = freshRoot()
    Snapshots.append(spark.range(10).toDF(), root) // v1
    Snapshots.overwrite(spark.range(20, 25).toDF(), root) // v2: v1 dead
    Snapshots.append(spark.range(30, 32).toDF(), root) // v3 = v2 + 2
    val (droppedV, deletedF) = Snapshots.vacuum(spark, root, keepVersions = 2)
    assert(droppedV == 1)
    assert(deletedF > 0) // v1's files were unreferenced by v2/v3
    assert(Snapshots.versions(spark, root) == Seq(2, 3))
    // v2's files are shared with v3 and must have survived
    assert(Snapshots.read(spark, root, 2).count() == 5)
    assert(Snapshots.read(spark, root, 3).count() == 7)
    // idempotent: nothing left to drop at the same retention
    assert(Snapshots.vacuum(spark, root, keepVersions = 2) == (0, 0))
  }

  // --- integrity audit ------------------------------------------------

  test("audit: clean table is all-ok; corruption and orphans surface") {
    val root = freshRoot()
    Snapshots.append(Seq(1L, 2L).toDF("id").repartition(1), root)
    Snapshots.append(Seq(3L).toDF("id").repartition(1), root)
    val clean = Snapshots.audit(spark, root).collect()
    assert(clean.nonEmpty && clean.forall(_.getString(1) == "ok"))
    val (fs, rootP) = {
      val p = new HPath(root)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    // truncate one committed file (simulated bit-rot/partial restore)
    val victim = clean.head.getString(0)
    val vp = new HPath(rootP, victim)
    val bytes = {
      val in = fs.open(vp)
      try { val b = new Array[Byte](10); in.readFully(b); b }
      finally in.close()
    }
    fs.delete(vp, false)
    val out = fs.create(vp, false)
    try out.write(bytes) finally out.close()
    // and plant an orphan commit dir (crash before any manifest landed)
    val orphanDir = new HPath(rootP, "data/deadbeef-orphan")
    fs.mkdirs(orphanDir)
    val o = fs.create(new HPath(orphanDir, "part-junk.parquet"), false)
    try o.write(Array[Byte](1, 2, 3)) finally o.close()
    val report = Snapshots.audit(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(report(victim) == "size_mismatch")
    assert(report("data/deadbeef-orphan/part-junk.parquet") == "orphan")
    // deleting the victim outright reports missing
    fs.delete(vp, false)
    assert(Snapshots.audit(spark, root).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
      .apply(victim) == "missing")
  }

  // --- incremental consumption (changesSince) ------------------------

  test("changesSince reads exactly the appended files, composable") {
    val root = freshRoot()
    Snapshots.append(Seq(1L, 2L).toDF("id"), root) // v1
    Snapshots.append(Seq(3L).toDF("id"), root) // v2
    Snapshots.append(Seq(4L, 5L).toDF("id"), root) // v3
    assert(Snapshots.changesSince(spark, root, 1)
      .as[Long].collect().toSet == Set(3L, 4L, 5L))
    assert(Snapshots.changesSince(spark, root, 2, 3)
      .as[Long].collect().toSet == Set(4L, 5L))
    assert(Snapshots.changesSince(spark, root, 0)
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 5L))
    // no change: empty frame, schema intact
    val none = Snapshots.changesSince(spark, root, 3, 3)
    assert(none.isEmpty && none.columns.toSeq == Seq("id"))
  }

  test("changesSince refuses a rewritten history instead of lying") {
    val root = freshRoot()
    Snapshots.append(spark.range(100).toDF(), root) // v1, several files
    Snapshots.append(spark.range(100, 110).toDF(), root) // v2
    Snapshots.compact(spark, root, numFiles = 1) // v3 rewrites v1+v2
    intercept[IllegalStateException] {
      Snapshots.changesSince(spark, root, 1)
    }
    val root2 = freshRoot()
    Snapshots.append(Seq(1L).toDF("id"), root2)
    Snapshots.overwrite(Seq(2L).toDF("id"), root2)
    intercept[IllegalStateException] {
      Snapshots.changesSince(spark, root2, 1)
    }
  }

  // --- manifest column stats + data skipping -------------------------

  /** Three single-file commits with disjoint id ranges — the planted
    * layout every skipping test reads against. */
  private def rangedTable(): String = {
    val root = freshRoot()
    Seq(0L until 100L, 100L until 200L, 200L until 300L).foreach { r =>
      Snapshots.append(
        r.toDF("id").withColumn("tag", concat(lit("t"), $"id" % 7))
          .repartition(1), root)
    }
    root
  }

  test("readWhere opens only stat-surviving files, result identical") {
    val root = rangedTable()
    val pred = $"id" >= 120L && $"id" < 180L
    val (kept, skipped) = Snapshots.pruneFiles(spark, root, pred)
    assert(kept.size == 1 && skipped.size == 2)
    val df = Snapshots.readWhere(spark, root, pred)
    // the plan's actual inputs are exactly the kept files
    assert(df.inputFiles.forall(f => kept.exists(k => f.endsWith(k))))
    assert(df.select("id").as[Long].collect().sorted.toSeq ==
      (120L until 180L))
    // a predicate nothing satisfies prunes everything yet keeps schema
    val none = Snapshots.readWhere(spark, root, $"id" > 10000L)
    assert(none.isEmpty && none.columns.toSeq == Seq("id", "tag"))
  }

  test("IN lists, string ranges, and flipped literals prune") {
    val root = rangedTable()
    val (_, sIn) = Snapshots.pruneFiles(spark, root,
      $"id".isin(5L, 42L)) // both in file 1
    assert(sIn.size == 2)
    val (_, sFlip) = Snapshots.pruneFiles(spark, root, lit(250L) <= $"id")
    assert(sFlip.size == 2)
    // string stats: tags cycle t0..t6 in every file — a disjoint string
    // range prunes all three, an overlapping one none
    val (_, sStr) = Snapshots.pruneFiles(spark, root, $"tag" > "t9")
    assert(sStr.size == 3)
    val (k2, _) = Snapshots.pruneFiles(spark, root, $"tag" === "t3")
    assert(k2.size == 3)
  }

  test("unrecognized conjuncts never prune but still filter rows") {
    val root = rangedTable()
    val pred = ($"id" % 2L === 0L) && $"id" < 102L // arithmetic: opaque
    val (kept, skipped) = Snapshots.pruneFiles(spark, root, pred)
    // the recognized conjunct (id < 102) prunes file 3; the opaque one
    // keeps files it cannot reason about
    assert(skipped.size == 1 && kept.size == 2)
    assert(Snapshots.readWhere(spark, root, pred).select("id")
      .as[Long].collect().sorted.toSeq == (0L to 100L by 2L))
  }

  test("null tests and all-null files prune correctly") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, Some("x")), (2L, Some("y")))
      .toDF("id", "v").repartition(1), root)
    Snapshots.append(Seq((3L, None: Option[String]), (4L, None))
      .toDF("id", "v").repartition(1), root)
    val (kN, sN) = Snapshots.pruneFiles(spark, root, $"v".isNull)
    assert(kN.size == 1 && sN.size == 1) // no-null file skipped
    val (kNN, sNN) = Snapshots.pruneFiles(spark, root, $"v".isNotNull)
    assert(kNN.size == 1 && sNN.size == 1) // all-null file skipped
    // a comparison can never match in the all-null file
    val (kC, sC) = Snapshots.pruneFiles(spark, root, $"v" === "x")
    assert(kC.size == 1 && sC.size == 1)
    assert(Snapshots.readWhere(spark, root, $"v".isNull)
      .select("id").as[Long].collect().toSet == Set(3L, 4L))
  }

  test("stats round-trip hostile strings and survive appends/optimize") {
    val root = freshRoot()
    // min/max carry tabs, newlines, '#', unicode — the manifest encoding
    // must not corrupt lines or change prune semantics
    Snapshots.append(Seq("\ta\nb", "z#9", "é").toDF("s")
      .repartition(1), root)
    Snapshots.append(Seq("m1", "m2").toDF("s").repartition(1), root)
    // "a" falls inside file 1's [tab-prefixed, é] range but outside
    // file 2's [m1, m2] — exactly one skip
    val (_, skipped) = Snapshots.pruneFiles(spark, root, $"s" === "a")
    assert(skipped.size == 1)
    assert(Snapshots.readWhere(spark, root, $"s" <= "m1")
      .as[String].collect().toSet == Set("\ta\nb", "m1"))
    // appends carried v1's stats: prune still bites at the NEW version
    // ("zz" < "é" in UTF8 order, so file 1 legitimately stays)
    Snapshots.append(Seq("zz").toDF("s").repartition(1), root)
    val (_, s3) = Snapshots.pruneFiles(spark, root, $"s" === "zz")
    assert(s3.size == 1)
    // a rewrite (compact) regenerates stats for the new files
    Snapshots.compact(spark, root, numFiles = 2)
    val (kO, _) = Snapshots.pruneFiles(spark, root, $"s" === "zz")
    assert(Snapshots.readWhere(spark, root, $"s" === "zz").count() == 1)
    assert(kO.nonEmpty)
  }

  test("a stats-free manifest (older writer) keeps every file") {
    val root = rangedTable()
    val (fs, rootP) = {
      val p = new HPath(root)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    // simulate a table written before stats existed: strip the lines
    // from EVERY manifest (stats chain through delta bases, so one
    // stripped manifest would still inherit its ancestors')
    (1 to 3).foreach { v =>
      val mp = new HPath(new HPath(rootP, "_manifests"), f"v$v%09d")
      val body = {
        val in = fs.open(mp)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filterNot(_.startsWith("#stats")).mkString("\n") + "\n"
        finally in.close()
      }
      fs.delete(mp, false)
      val out = fs.create(mp, false)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    val pred = $"id" < 50L
    val (kept, skipped) = Snapshots.pruneFiles(spark, root, pred)
    assert(skipped.isEmpty && kept.size == 3) // no stats → no skipping
    assert(Snapshots.readWhere(spark, root, pred).count() == 50)
  }

  test("non-monotone casts never prune; widening casts still do") {
    val root = freshRoot()
    // two files of timestamps: one entirely INSIDE 2024-03-02 but after
    // midnight, one on 2024-03-05 — cast-to-date equality must keep the
    // first file even though its min/max (both > midnight) exclude the
    // date literal's timestamp promotion
    Snapshots.append(Seq("2024-03-02 10:00:00", "2024-03-02 17:30:00")
      .toDF("s").select($"s".cast("timestamp").as("ts"))
      .repartition(1), root)
    Snapshots.append(Seq("2024-03-05 09:00:00")
      .toDF("s").select($"s".cast("timestamp").as("ts"))
      .repartition(1), root)
    val pred = $"ts".cast("date") === lit(java.sql.Date.valueOf("2024-03-02"))
    val (kept, skipped) = Snapshots.pruneFiles(spark, root, pred)
    // timestamp→date is a truncation, not a widening: no pruning at all
    assert(skipped.isEmpty && kept.size == 2)
    assert(Snapshots.readWhere(spark, root, pred).count() == 2)
    // the contract readWhere promises: identical to read().filter
    assert(Snapshots.readWhere(spark, root, pred).count() ==
      Snapshots.read(spark, root).filter(pred).count())
    // a WIDENING cast (int column vs long literal) still prunes
    val root2 = freshRoot()
    Snapshots.append(Seq(1, 2, 3).toDF("n").repartition(1), root2)
    Snapshots.append(Seq(100, 200).toDF("n").repartition(1), root2)
    val (k2, s2) = Snapshots.pruneFiles(spark, root2, $"n" > 50L)
    assert(k2.size == 1 && s2.size == 1)
    assert(Snapshots.readWhere(spark, root2, $"n" > 50L).count() == 2)
    // date → timestamp: widening promotion, prunes soundly
    val root3 = freshRoot()
    Snapshots.append(Seq("2024-01-01", "2024-01-02").toDF("s")
      .select($"s".cast("date").as("d")).repartition(1), root3)
    Snapshots.append(Seq("2024-06-01").toDF("s")
      .select($"s".cast("date").as("d")).repartition(1), root3)
    val p3 = $"d".cast("timestamp") >=
      lit(java.sql.Timestamp.valueOf("2024-05-01 00:00:00"))
    val (k3, s3) = Snapshots.pruneFiles(spark, root3, p3)
    assert(k3.size == 1 && s3.size == 1)
    assert(Snapshots.readWhere(spark, root3, p3).count() == 1)
  }

  test("OR-of-ranges prunes only files every disjunct disproves") {
    val root = rangedTable() // files: [0,100), [100,200), [200,300)
    val pred = ($"id" >= 10L && $"id" < 40L) ||
      ($"id" >= 250L && $"id" < 260L)
    val (kept, skipped) = Snapshots.pruneFiles(spark, root, pred)
    assert(skipped.size == 1) // only the middle file fails BOTH ranges
    assert(kept.size == 2)
    assert(Snapshots.readWhere(spark, root, pred).count() == 40)
    assert(Snapshots.readWhere(spark, root, pred).count() ==
      Snapshots.read(spark, root).filter(pred).count())
    // OR composed with a recognized conjunct: both prune independently
    val pred2 = (($"id" < 20L) || ($"id" >= 220L)) && $"tag" > "t9"
    val (_, s2) = Snapshots.pruneFiles(spark, root, pred2)
    assert(s2.size == 3) // tag conjunct disproves every file
    // one opaque disjunct poisons ONLY its own OR (fail-open), and the
    // other conjunct still prunes
    val pred3 = (($"id" % 7L === 0L) || ($"id" < 20L)) && $"id" >= 100L
    val (k3, s3) = Snapshots.pruneFiles(spark, root, pred3)
    assert(s3.size == 1 && k3.size == 2) // id >= 100 skips file 1 only
    assert(Snapshots.readWhere(spark, root, pred3).count() ==
      Snapshots.read(spark, root).filter(pred3).count())
  }

  test("long string stats truncate to bounds; prune stays sound") {
    val root = freshRoot()
    val longA = "a" * 300 + "LOW"
    val longZ = "z" * 300 + "HIGH"
    Snapshots.append(Seq(longA, longZ).toDF("s").repartition(1), root)
    Snapshots.append(Seq("mmm").toDF("s").repartition(1), root)
    // manifests never embed the document bodies
    val (fs, rootP) = {
      val p = new HPath(root)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    val manifests = fs.listStatus(new HPath(rootP, "_manifests"))
    assert(manifests.forall(_.getLen < 4096))
    // equality on the full long string must KEEP its file (stats are
    // bounds, the attained value is beyond the truncated max) while the
    // other file ("mmm" < longZ) prunes
    val (kEq, sEq) = Snapshots.pruneFiles(spark, root, $"s" === longZ)
    assert(kEq.size == 1 && sEq.size == 1)
    assert(Snapshots.readWhere(spark, root, $"s" === longZ).count() == 1)
    // a predicate above the incremented-prefix bound ("z"*63 + "{")
    // prunes both files
    val (_, sHi) = Snapshots.pruneFiles(spark, root, $"s" >= "{")
    assert(sHi.size == 2)
    // ... and below the prefix lower bound prunes too
    val (_, sLo) = Snapshots.pruneFiles(spark, root, $"s" < "a")
    assert(sLo.size == 2)
    // full-contract identity on a range crossing the truncation point
    val pred = $"s" >= "a" * 301 && $"s" <= "z" * 299
    assert(Snapshots.readWhere(spark, root, pred).count() ==
      Snapshots.read(spark, root).filter(pred).count())
    // unit edges: short strings untouched, increments skip surrogates
    assert(Snapshots.truncMinStat("short") == "short")
    assert(Snapshots.truncMaxStat("short").contains("short"))
    val t = Snapshots.truncMaxStat("b" * 100).get
    assert(t.length <= Snapshots.StatsMaxStringLen && t > "b" * 100)
    assert(Snapshots.truncMinStat("c" * 100) == "c" * 64)
    assert(Snapshots.truncMinStat("c" * 100) <= "c" * 100)
  }

  // --- pinned schema + additive evolution ----------------------------

  test("additive append evolves the schema; old files read NULL") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a")).toDF("k", "v"), root)
    // new column joins at the end; old rows carry NULL there
    Snapshots.append(Seq((2L, "b", 7.5)).toDF("k", "v", "score"), root)
    val got = Snapshots.read(spark, root)
    assert(got.columns.toSeq == Seq("k", "v", "score"))
    assert(got.orderBy("k").as[(Long, String, Option[Double])]
      .collect().toSeq == Seq((1L, "a", None), (2L, "b", Some(7.5))))
    // an append MISSING a table column also works: its rows read NULL
    Snapshots.append(Seq((3L, 9.0)).toDF("k", "score"), root)
    assert(Snapshots.read(spark, root).filter($"k" === 3L)
      .select("v").as[Option[String]].head().isEmpty)
    // time travel keeps each version's own pinned shape
    assert(Snapshots.read(spark, root, 1).columns.toSeq == Seq("k", "v"))
  }

  test("type conflicts refuse to append; overwrite replaces the schema") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a")).toDF("k", "v"), root)
    val ex = intercept[IllegalArgumentException] {
      Snapshots.append(Seq((2L, 3L)).toDF("k", "v"), root)
    }
    assert(ex.getMessage.contains("schema conflict"))
    // nothing committed by the failed attempt
    assert(Snapshots.currentVersion(spark, root).contains(1))
    // overwrite is the explicit type-change path
    Snapshots.overwrite(Seq((2L, 3L)).toDF("k", "v"), root)
    assert(Snapshots.read(spark, root).schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
  }

  test("pre-pinning manifests (no #schema line) still read") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a")).toDF("k", "v"), root)
    // simulate an older writer: strip the schema header from v1
    val p = new HPath(s"$root/_manifests/v000000001")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lines = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    val out = fs.create(p, true)
    try out.write(lines.filterNot(_.startsWith("#schema "))
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    assert(Snapshots.read(spark, root).as[(Long, String)]
      .collect().toSeq == Seq((1L, "a")))
    // and an append on top re-pins via footer inference
    Snapshots.append(Seq((2L, "b")).toDF("k", "v"), root)
    assert(Snapshots.read(spark, root).count() == 2)
  }

  test("pruning stays sound across schema evolution") {
    val root = freshRoot()
    Snapshots.append(Seq(1L, 2L).toDF("k").coalesce(1), root)
    Snapshots.append(Seq((3L, 100L), (4L, 200L)).toDF("k", "score")
      .coalesce(1), root)
    // the pre-evolution file has no score stats: fail-open keeps it
    val (kept, skipped) = Snapshots.pruneFiles(spark, root, $"score" > 150L)
    assert(kept.size == 2 && skipped.isEmpty)
    assert(Snapshots.readWhere(spark, root, $"score" > 150L)
      .select("k").as[Long].collect().toSeq == Seq(4L))
    // on a score range disprovable from the evolved file's stats, only
    // the stats-free old file survives pruning
    val (kept2, skipped2) = Snapshots.pruneFiles(spark, root, $"score" > 300L)
    assert(kept2.size == 1 && skipped2.size == 1)
  }

  test("restore rolls back file-level; vacuumed targets refuse") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a")).toDF("k", "v"), root)
    Snapshots.append(Seq((2L, "b")).toDF("k", "v"), root)
    Snapshots.overwrite(Seq((9L, "bad")).toDF("k", "v"), root)
    val v = Snapshots.restore(spark, root, 2)
    assert(v == 4)
    assert(Snapshots.read(spark, root).orderBy("k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    // the restored version prunes and time-travels like any other
    assert(Snapshots.read(spark, root, 3).as[(Long, String)]
      .collect().toSeq == Seq((9L, "bad")))
    // a vacuumed version vanishes with its manifest: restore refuses
    Snapshots.overwrite(Seq((5L, "c")).toDF("k", "v"), root)
    Snapshots.vacuum(spark, root, keepVersions = 1)
    intercept[IllegalArgumentException] {
      Snapshots.restore(spark, root, 3)
    }
    // and a manifest whose data file is gone (external deletion)
    // refuses with the missing-file diagnostic instead of committing
    // an unreadable current version
    val cur = Snapshots.currentVersion(spark, root).get
    val (fs, rootP) = {
      val p = new HPath(root)
      (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
    }
    val victim = new HPath(rootP,
      Snapshots.read(spark, root).inputFiles.head
        .split("/t/", 2).last)
    fs.delete(victim, false)
    val ex = intercept[IllegalArgumentException] {
      Snapshots.restore(spark, root, cur)
    }
    assert(ex.getMessage.contains("vacuumed"))
  }

  // --- MERGE INTO (copy-on-write upsert) -----------------------------

  test("merge updates matched keys, inserts the rest, one new version") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"),
      root)
    val r = Snapshots.merge(spark, root,
      Seq((2L, "B"), (9L, "I")).toDF("k", "v"), Seq("k"))
    assert(r.version == 2)
    assert(Snapshots.read(spark, root).orderBy("k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "I")))
    // time travel still sees the pre-merge content
    assert(Snapshots.read(spark, root, 1).orderBy("k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // source column order must not matter
    Snapshots.merge(spark, root,
      Seq(("Z", 3L)).toDF("v", "k"), Seq("k"))
    assert(Snapshots.read(spark, root).filter($"k" === 3L)
      .select("v").as[String].head() == "Z")
  }

  test("merge rewrites only files the key footprint touches") {
    val root = freshRoot()
    // three appends = three files with disjoint key ranges
    Seq(0L until 10L, 100L until 110L, 200L until 210L).foreach(r =>
      Snapshots.append(r.map(k => (k, "old")).toDF("k", "v"), root))
    val before = Snapshots.read(spark, root).inputFiles.length
    val r = Snapshots.merge(spark, root,
      Seq((105L, "new")).toDF("k", "v"), Seq("k"))
    assert(r.untouchedFiles == before - 1,
      s"expected all but one file untouched, got $r")
    assert(r.rewrittenFiles >= 1)
    val got = Snapshots.read(spark, root)
    assert(got.count() == 30)
    assert(got.filter($"v" === "new").select("k").as[Long].head() == 105L)
    // untouched files are carried by NAME: still the same physical files
    val files = got.inputFiles.length
    assert(files == before - 1 + r.rewrittenFiles)
  }

  test("merge with >1024 distinct keys falls back to range pruning") {
    val root = freshRoot()
    Snapshots.append((0L until 3000L).map(k => (k, 0L)).toDF("k", "v"),
      root)
    Snapshots.append((10000L until 10010L).map(k => (k, 0L)).toDF("k", "v"),
      root)
    val src = (0L until 1500L).map(k => (k, 1L)).toDF("k", "v")
    val r = Snapshots.merge(spark, root, src, Seq("k"))
    // the second file's range [10000, 10010) is outside [0, 1499]
    assert(r.untouchedFiles >= 1)
    val got = Snapshots.read(spark, root)
    assert(got.count() == 3010)
    assert(got.filter($"v" === 1L).count() == 1500)
  }

  test("merge composite keys and null-key rows never match") {
    val root = freshRoot()
    Snapshots.append(Seq((Some(1L), "x", "a"), (None, "x", "b"),
      (Some(2L), "y", "c")).toDF("k1", "k2", "v"), root)
    val src = Seq((Some(1L), "x", "A"), (None, "x", "NULLKEY"),
      (Some(7L), "z", "N")).toDF("k1", "k2", "v")
    Snapshots.merge(spark, root, src, Seq("k1", "k2"))
    val got = Snapshots.read(spark, root).orderBy("v")
      .select("v").as[String].collect().toSeq
    // (1,x) updated; table's null-key row SURVIVES; source's null-key
    // row inserts as a new row; (7,z) inserts
    assert(got == Seq("A", "N", "NULLKEY", "b", "c"))
  }

  test("merge rejects duplicate source keys and schema drift") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a")).toDF("k", "v"), root)
    intercept[IllegalArgumentException] {
      Snapshots.merge(spark, root,
        Seq((1L, "x"), (1L, "y")).toDF("k", "v"), Seq("k"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.merge(spark, root,
        Seq((1L, "x", 0)).toDF("k", "v", "extra"), Seq("k"))
    }
  }

  test("opt-in mergeSchema: a wider merge source evolves the schema " +
      "and lands the data as ONE commit") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    try {
      spark.conf.set("spark.graft.write.mergeSchema", "true")
      val r = Snapshots.merge(spark, root,
        Seq((2L, "B", 20.0), (3L, "C", 30.0)).toDF("k", "v", "score"),
        Seq("k"))
      // ONE commit: schema + upserted data together (no separate
      // add-column version)
      assert(r.version == 2)
      assert(Snapshots.versions(spark, root) == Seq(1, 2))
      assert(Snapshots.read(spark, root)
        .select("k", "v", "score").as[(Long, String, Option[Double])]
        .collect().sortBy(_._1).toSeq == Seq(
          (1L, "a", None), (2L, "B", Some(20.0)), (3L, "C", Some(30.0))))
      // time travel keeps the pre-evolution shape
      assert(Snapshots.read(spark, root, 1).columns.toSeq == Seq("k", "v"))
      // NARROWER source: the lacking column writes NULL on the
      // source-provided rows (replace-by-key — documented)
      Snapshots.merge(spark, root,
        Seq((3L, "c2"), (4L, "d")).toDF("k", "v"), Seq("k"))
      assert(Snapshots.read(spark, root)
        .select("k", "v", "score").as[(Long, String, Option[Double])]
        .collect().sortBy(_._1).toSeq == Seq(
          (1L, "a", None), (2L, "B", Some(20.0)),
          (3L, "c2", None), (4L, "d", None)))
      // type drift still refuses loudly, before anything stages
      val e = intercept[IllegalArgumentException] {
        Snapshots.merge(spark, root,
          Seq((5L, 5, 1.0)).toDF("k", "v", "score"), Seq("k"))
      }
      assert(e.getMessage.contains("schema conflict"), e.getMessage)
    } finally spark.conf.unset("spark.graft.write.mergeSchema")
    // and with the conf off the wider source refuses, naming the knob
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.merge(spark, root,
        Seq((6L, "f", 1.0, "x")).toDF("k", "v", "score", "extra"),
        Seq("k"))
    }
    assert(e2.getMessage.contains("mergeSchema"), e2.getMessage)
  }

  test("mergeSchema composes with column mapping: an evolving merge " +
      "after RENAME COLUMN keeps the physical era readable") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    Snapshots.renameColumn(spark, root, "v", "label")
    try {
      spark.conf.set("spark.graft.write.mergeSchema", "true")
      // source speaks the LOGICAL name (label) and brings a new column
      Snapshots.merge(spark, root,
        Seq((2L, "B", 7L), (3L, "C", 8L)).toDF("k", "label", "n"),
        Seq("k"))
    } finally spark.conf.unset("spark.graft.write.mergeSchema")
    assert(Snapshots.read(spark, root)
      .select("k", "label", "n").as[(Long, String, Option[Long])]
      .collect().sortBy(_._1).toSeq == Seq(
        (1L, "a", None), (2L, "B", Some(7L)), (3L, "C", Some(8L))))
    // the pre-rename file (physical 'v') still reads under the
    // current logical shape, and time travel keeps the old names
    assert(Snapshots.read(spark, root, 1).columns.toSeq == Seq("k", "v"))
  }

  // --- deleteWhere (copy-on-write DELETE) ----------------------------

  test("deleteWhere removes matching rows; file classes are honest") {
    val root = freshRoot()
    // three files with disjoint ranges: [0,10), [100,110), [200,210)
    Seq(0L until 10L, 100L until 110L, 200L until 210L).foreach(r =>
      Snapshots.append(
        r.map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), root))
    // range covering ALL of file 2 and HALF of file 1
    val r = Snapshots.deleteWhere(spark, root,
      $"k" >= 105L && $"k" < 300L)
    // file 0 untouched (disproven), file 2 dropped whole (no row can
    // survive — the NNF complement proof), file 1 rewritten
    assert(r.untouchedFiles == 1, r.toString)
    assert(r.droppedFiles == 1, r.toString)
    assert(r.rewrittenFiles >= 1, r.toString)
    val got = Snapshots.read(spark, root).select("k").as[Long]
      .collect().sorted.toSeq
    assert(got == ((0L until 10L) ++ (100L until 105L)))
    // identical to the filter contract, and history is intact
    assert(Snapshots.read(spark, root, 3).count() == 30)
  }

  test("deleteWhere keeps NULL-predicate rows (SQL DELETE semantics)") {
    val root = freshRoot()
    Snapshots.append(Seq((Some(1L), "a"), (None, "null-row"),
      (Some(5L), "e")).toDF("k", "v"), root)
    Snapshots.deleteWhere(spark, root, $"k" > 2L)
    assert(Snapshots.read(spark, root).select("v").as[String]
      .collect().sorted.toSeq == Seq("a", "null-row"))
  }

  test("deleteWhere matches read().filter(!pred) on an opaque predicate") {
    val root = freshRoot()
    Snapshots.append((0L until 100L).map(k => (k, k % 7)).toDF("k", "m"),
      root)
    // modulo is outside the prune vocabulary on BOTH sides: everything
    // rewrites (fail-open), content still exact
    val r = Snapshots.deleteWhere(spark, root, pmod($"m", lit(3)) === 1L)
    assert(r.untouchedFiles == 0 && r.droppedFiles == 0)
    assert(Snapshots.read(spark, root).count() ==
      (0L until 100L).count(k => (k % 7) % 3 != 1))
  }

  test("unfolded constant literal sides (Cast of literal) still prune") {
    val root = freshRoot()
    Seq(("2020-01-05", 1L), ("2020-01-06", 2L)).zipWithIndex.foreach {
      case ((d, k), _) => Snapshots.append(
        Seq((k, java.time.LocalDateTime.parse(d + "T00:00")))
          .toDF("k", "ts").coalesce(1), root)
    }
    // analysis leaves lit(...).cast(...) as Cast(Literal) — constant
    // folding is an optimizer rule the analyzed prune plan never ran;
    // litOf folds it so the range prunes like a pre-folded literal
    val pred = $"ts" >= lit("2020-01-06").cast("timestamp_ntz")
    val (kept, skipped) = Snapshots.pruneFiles(spark, root, pred)
    assert(kept.size == 1 && skipped.size == 1)
    assert(Snapshots.readWhere(spark, root, pred).count() == 1)
  }

  test("NNF lets NOT-range reads prune too") {
    val root = freshRoot()
    Seq(0L until 10L, 100L until 110L).foreach(r =>
      Snapshots.append(r.map(k => (k, 0L)).toDF("k", "v").coalesce(1),
        root))
    // !(k < 100): the second file may match, the first provably not
    val (kept, skipped) = Snapshots.pruneFiles(spark, root, !($"k" < 100L))
    assert(kept.size == 1 && skipped.size == 1)
    assert(Snapshots.readWhere(spark, root, !($"k" < 100L)).count() == 10)
  }

  test("mergeMixed: upserts + tombstones in ONE commit, file-pruned " +
      "over both key sets") {
    val root = freshRoot()
    // three one-file appends clustered by key range: 0-9, 10-19, 20-29
    Snapshots.append((0L until 10L).map(i => (i, i * 1.0))
      .toDF("id", "v").coalesce(1), root)
    Snapshots.append((10L until 20L).map(i => (i, i * 1.0))
      .toDF("id", "v").coalesce(1), root)
    Snapshots.append((20L until 30L).map(i => (i, i * 1.0))
      .toDF("id", "v").coalesce(1), root)
    // upsert id 3 (update) + id 35 (insert); delete ids 5, 7
    val r = Snapshots.mergeMixed(spark, root,
      Seq((3L, 300.0), (35L, 350.0)).toDF("id", "v"), Seq("id"),
      Seq(5L, 7L).toDF("id"))
    assert(r.version == 4) // exactly one commit for the whole mutation
    assert(Snapshots.versions(spark, root) == Seq(1, 2, 3, 4))
    val got = Snapshots.read(spark, root).as[(Long, Double)]
      .collect().toMap
    assert(got(3L) == 300.0 && got(35L) == 350.0)
    assert(!got.contains(5L) && !got.contains(7L))
    assert(got.size == 29) // 30 - 2 deleted + 1 inserted
    assert(got(12L) == 12.0) // untouched rows intact
    // footprint pruning: every named key (3, 5, 7, 35) lives outside
    // the 10-19 and 20-29 files — they carry by name, unread
    assert(r.untouchedFiles == 2, r.toString)
    // history names the op
    assert(Snapshots.history(spark, root).head().getString(2) ==
      "merge-mixed")
  }

  test("changeFeed skips declared content-identical rewrites scan-free") {
    val root = freshRoot()
    Snapshots.append(Seq(1L, 2L).toDF("id").coalesce(1), root)
    Snapshots.append(Seq(3L).toDF("id").coalesce(1), root)
    Snapshots.compact(spark, root, numFiles = 1) // v3: content-identical
    Snapshots.append(Seq(4L).toDF("id").coalesce(1), root)
    val feed = Snapshots.changeFeed(spark, root, 0)
    // the compact contributes ZERO rows and ZERO scans: two append
    // runs (around the compact), no diff legs at all
    val scans = feed.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.size
    assert(scans == 2, s"expected 2 run scans, got $scans")
    assert(feed.filter(col("_change_type") =!= "insert").count() == 0)
    assert(feed.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // a REAL rewrite (restore) still decomposes row-level
    Snapshots.restore(spark, root, 2) // back to {1,2,3}
    val feed2 = Snapshots.changeFeed(spark, root, 4)
    assert(feed2.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSeq == Seq(4L))
  }

  test("changeFeed skips an optimize-incremental commit scan-free, " +
      "like every other declared content-identical rewrite") {
    val root = freshRoot()
    Snapshots.append(Seq(1L, 2L).toDF("id").coalesce(1), root)
    Snapshots.optimizeIncremental(spark, root, Seq("id"), numFiles = 1)
    Snapshots.append(Seq(3L).toDF("id").coalesce(1), root)
    val feed = Snapshots.changeFeed(spark, root, 0)
    val scans = feed.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.size
    assert(scans == 2, s"expected 2 append-run scans, got $scans")
    assert(feed.filter(col("_change_type") =!= "insert").count() == 0)
    assert(feed.select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("changeFeed crosses a schema-evolving merge: pre-evolution " +
      "rows read NULL in the new column, update pairing intact") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), root)
    try {
      spark.conf.set("spark.graft.write.mergeSchema", "true")
      Snapshots.merge(spark, root,
        Seq((2L, "B", 9.0), (3L, "C", 1.0)).toDF("k", "v", "score"),
        Seq("k"))
    } finally spark.conf.unset("spark.graft.write.mergeSchema")
    val feed = Snapshots.changeFeed(spark, root, 0)
    // feed schema carries the evolved column; v1's insert rows (which
    // predate it) read NULL there
    assert(feed.columns.contains("score"))
    val v1Inserts = feed.filter(col("_commit_version") === 1)
    assert(v1Inserts.count() == 2 &&
      v1Inserts.filter(col("score").isNotNull).count() == 0)
    // the merge commit pairs k=2 as an update (pre/post images) and
    // k=3 as a plain insert carrying the new column
    val merged = feed.filter(col("_commit_version") === 2)
    assert(merged.filter(col("_change_type") === "update_postimage")
      .select("k", "score").as[(Long, Option[Double])].collect()
      .toSeq == Seq((2L, Some(9.0))))
    assert(merged.filter(col("_change_type") === "insert")
      .select("k", "score").as[(Long, Option[Double])].collect()
      .toSeq == Seq((3L, Some(1.0))))
  }

  test("changeFeed decomposes DV-accretive commits positionally, " +
      "not via two-sided diffs") {
    val root = freshRoot()
    Snapshots.append((0L until 10L).map(i => (i, i * 1.0))
      .toDF("id", "v").coalesce(1), root)
    Snapshots.append((10L until 20L).map(i => (i, i * 1.0))
      .toDF("id", "v").coalesce(1), root)
    dmlMode(root) // v3
    Snapshots.deleteWhere(spark, root, col("id") === 5L) // v4
    Snapshots.updateWhere(spark, root, col("id") === 12L,
      Seq("v" -> lit(999.0))) // v5: drift + appended image file
    val feed = Snapshots.changeFeed(spark, root, 2)
    val got = feed.select("_change_type", "id", "v", "_commit_version")
      .as[(String, Long, Double, Int)].collect().toSet
    // the update-light commit pairs totally: its vectored row is the
    // preimage, its appended image the postimage; the delete-light
    // commit stays a plain delete
    assert(got == Set(
      ("delete", 5L, 5.0, 4),
      ("update_preimage", 12L, 12.0, 5),
      ("update_postimage", 12L, 999.0, 5)))
    // plan shape: v4 = one positional scan of the drifted file; v5 =
    // one appended-image scan + one positional scan — 3 parquet
    // scans total, where the diff path pays two-sided exceptAll legs
    val scans = feed.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.size
    assert(scans == 3, s"expected 3 scans, got $scans")
  }

  test("merge into an empty table is the first append; OCC race throws") {
    val root = freshRoot()
    val r = Snapshots.merge(spark, root, Seq((1L, "a")).toDF("k", "v"),
      Seq("k"))
    assert(r.version == 1)
    assert(Snapshots.read(spark, root).count() == 1)
    // OCC: merging against a version that is no longer current loses
    Snapshots.append(Seq((2L, "b")).toDF("k", "v"), root)
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.merge(spark, root, Seq((1L, "z")).toDF("k", "v"),
        Seq("k"), expectedVersion = 1)
    }
    // and nothing was lost by the failed attempt
    assert(Snapshots.read(spark, root).count() == 2)
  }

  test("every keyed verb takes its keys case-insensitively, like merge") {
    def table(): String = {
      val root = freshRoot()
      Snapshots.append((0L until 10L).map(i => (i, i * 1.0)).toDF("id", "v"),
        root)
      root
    }
    def content(root: String): Set[(Long, Double)] =
      Snapshots.read(spark, root).as[(Long, Double)].collect().toSet
    val src = Seq((2L, 20.0), (42L, 42.0)).toDF("id", "v")
    val ks = Seq(3L, 4L, 99L).toDF("id")
    val verbs: Seq[(String, (String, Seq[String]) => Any)] = Seq(
      "merge" -> ((r, k) => Snapshots.merge(spark, r, src, k)),
      "mergeMixed" -> ((r, k) => Snapshots.mergeMixed(spark, r, src, k, ks)),
      "merge by vector" -> ((r, k) => { dmlMode(r)
        Snapshots.merge(spark, r, src, k) }),
      "deleteMatching" -> ((r, k) => Snapshots.deleteMatching(spark, r, ks,
        k)),
      "updateMatching" -> ((r, k) => Snapshots.updateMatching(spark, r, ks,
        k, Seq("v" -> (col("v") + 100.0)))))
    verbs.foreach { case (name, run) =>
      val lower = table(); val upper = table()
      run(lower, Seq("id"))
      run(upper, Seq("ID"))
      assert(content(upper) == content(lower), s"$name with key ID")
      assert(content(lower) != content(table()), s"$name changed nothing")
    }
  }

  test("merge-on-read verbs commit like copy-on-write ones") {
    def table(): String = {
      val root = freshRoot()
      Snapshots.append((0L until 20L).map(i => (i, i * 1.0)).toDF("id", "v"),
        root)
      root
    }
    def content(root: String): Set[(Long, Double)] =
      Snapshots.read(spark, root).as[(Long, Double)].collect().toSet
    val pred = col("id") >= 5L && col("id") < 9L
    val assigns = Seq("v" -> (col("v") * 3.0))
    val src = Seq((1L, 10.0), (77L, 7.0)).toDF("id", "v")
    val verbs: Seq[(String, String => Any)] = Seq(
      ("delete", r => Snapshots.deleteWhere(spark, r, pred)),
      ("update", r => Snapshots.updateWhere(spark, r, pred, assigns)),
      ("merge", r => Snapshots.merge(spark, r, src, Seq("id"))))
    verbs.foreach { case (name, run) =>
      val a = table(); val b = table()
      run(a)
      dmlMode(b)
      run(b)
      assert(Snapshots.currentVersion(spark, b) == Some(3), name)
      assert(Snapshots.history(spark, b).head().getString(2) ==
        s"$name-light", name)
      assert(content(b) == content(a), s"$name light vs copy-on-write")
    }
  }
}
