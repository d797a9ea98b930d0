package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Deletion-vector DML (a `merge-on-read` table's [[Snapshots.DmlModeKey]]):
  * identical result semantics to the copy-on-write path with commit cost
  * O(matching rows) — no data file rewritten; vectors
  * accrete, retire on rewrite, drop a fully-covered file whole, survive
  * clones, and every consumer that assumed file-identity = content-identity
  * (changesSince, metadata aggregates) fails loudly instead of lying. */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_dv").toFile.toString + "/t"

  private def manifestFiles(root: String): Set[String] =
    Snapshots.read(spark, root).inputFiles
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet

  test("light delete equals CoW semantics with zero files rewritten") {
    val root = freshRoot()
    Snapshots.append((0L until 100L).map(i => (i, i * 1.0)).toDF("k", "v"),
      root)
    Snapshots.append((100L until 200L).map(i => (i, i * 1.0)).toDF("k", "v"),
      root)
    dmlMode(root)
    val filesBefore = manifestFiles(root)
    val r = Snapshots.deleteWhere(spark, root,
      col("k") % 10L === 3L && col("k") < 150L)
    assert(r.dvFiles > 0 && r.droppedFiles == 0)
    assert(r.positionsDeleted == 15L)
    // same physical files — nothing was rewritten
    assert(manifestFiles(root) == filesBefore)
    // content identical to the predicate complement
    val got = Snapshots.read(spark, root).as[(Long, Double)]
      .collect().toSet
    val want = (0L until 200L).filterNot(i => i % 10 == 3 && i < 150)
      .map(i => (i, i * 1.0)).toSet
    assert(got == want)
    // and readWhere composes (prune + DV filter + row filter)
    assert(Snapshots.readWhere(spark, root, col("k") < 50L).count() ==
      (0L until 50L).count(i => !(i % 10 == 3)))
  }

  test("NULL-predicate rows are kept (SQL DELETE semantics)") {
    val root = freshRoot()
    Snapshots.append(Seq[(java.lang.Long, java.lang.Double)](
      (1L, 1.0), (2L, null), (3L, 3.0)).toDF("k", "v"), root)
    dmlMode(root)
    Snapshots.deleteWhere(spark, root, col("v") > 2.0)
    assert(Snapshots.read(spark, root).count() == 2) // null-v row kept
  }

  test("vectors accrete across deletes; full cover drops the file whole") {
    val root = freshRoot()
    Snapshots.append((0L until 10L).map(i => (i, i * 1.0)).toDF("k", "v")
      .coalesce(1), root)
    Snapshots.append((10L until 20L).map(i => (i, i * 1.0)).toDF("k", "v")
      .coalesce(1), root)
    dmlMode(root)
    val r1 = Snapshots.deleteWhere(spark, root, col("k") < 4L)
    assert(r1.dvFiles == 1 && r1.droppedFiles == 0)
    assert(Snapshots.read(spark, root).count() == 16)
    val r2 = Snapshots.deleteWhere(spark, root, col("k") < 10L)
    // the second delete completes the first file's cover: dropped whole
    assert(r2.droppedFiles == 1)
    assert(Snapshots.read(spark, root).count() == 10)
    assert(manifestFiles(root).size == 1)
  }

  test("time travel reads pre-delete versions verbatim; restore works") {
    val root = freshRoot()
    Snapshots.append((0L until 20L).map(i => (i, i * 1.0)).toDF("k", "v"),
      root)
    val v1 = Snapshots.currentVersion(spark, root).get
    dmlMode(root)
    val v2 = Snapshots.deleteWhere(spark, root, col("k") < 5L).version
    assert(Snapshots.read(spark, root, v1).count() == 20)
    assert(Snapshots.read(spark, root, v2).count() == 15)
    val v3 = Snapshots.restore(spark, root, v1)
    assert(Snapshots.read(spark, root, v3).count() == 20)
    // restoring the DV'd version restores its vector state too
    val v4 = Snapshots.restore(spark, root, v2)
    assert(Snapshots.read(spark, root, v4).count() == 15)
  }

  test("rewrites retire vectors; metadata aggregates refuse until then") {
    val root = freshRoot()
    Snapshots.append((0L until 30L).map(i => (i, i * 1.0)).toDF("k", "v"),
      root)
    assert(Snapshots.aggregateFromManifest(spark, root, Seq("k")).nonEmpty)
    dmlMode(root)
    Snapshots.deleteWhere(spark, root, col("k") === 7L)
    // stats are no longer attained values: exact-or-refuse refuses
    assert(Snapshots.aggregateFromManifest(spark, root, Seq("k")).isEmpty)
    Snapshots.compact(spark, root, numFiles = 1)
    val meta = Snapshots.aggregateFromManifest(spark, root, Seq("k"))
    assert(meta.nonEmpty)
    assert(meta.get.head().getLong(0) == 29L)
  }

  test("changesSince fails loudly on DV drift; diff reports row-level") {
    val root = freshRoot()
    Snapshots.append((0L until 10L).map(i => (i, i * 1.0)).toDF("k", "v"),
      root)
    val v1 = Snapshots.currentVersion(spark, root).get
    Snapshots.append((10L until 20L).map(i => (i, i * 1.0)).toDF("k", "v"),
      root)
    val v2 = Snapshots.currentVersion(spark, root).get
    dmlMode(root)
    val v3 = Snapshots.deleteWhere(spark, root, col("k") === 3L).version
    // incremental consumption across the DV commit must refuse
    val e = intercept[IllegalStateException] {
      Snapshots.changesSince(spark, root, v1, v3)
    }
    assert(e.getMessage.contains("deletion vectors"))
    // pre-DV increments still work
    assert(Snapshots.changesSince(spark, root, v1, v2).count() == 10)
    // diff sees exactly the one deleted row
    val d = Snapshots.diff(spark, root, v2, v3).collect()
    assert(d.length == 1 && d.head.getString(2) == "delete" &&
      d.head.getLong(0) == 3L)
  }

  test("merge composes: rewritten files drop their vectors, content exact") {
    val root = freshRoot()
    Snapshots.append((0L until 10L).map(i => (i, i * 1.0)).toDF("k", "v")
      .coalesce(1), root)
    dmlMode(root)
    Snapshots.deleteWhere(spark, root, col("k") === 2L)
    // upsert touches the DV'd file: it rewrites from LIVE rows only
    dmlMode(root, mor = false)
    Snapshots.merge(spark, root, Seq((5L, 99.0), (42L, 42.0)).toDF("k", "v"),
      Seq("k"))
    val got = Snapshots.read(spark, root).as[(Long, Double)].collect().toSet
    val want = (0L until 10L).filterNot(_ == 2L)
      .map(i => (i, if (i == 5L) 99.0 else i * 1.0)).toSet + ((42L, 42.0))
    assert(got == want)
  }

  test("clones carry vectors; vacuum reaps superseded sidecars") {
    val root = freshRoot(); val dst = freshRoot()
    Snapshots.append((0L until 10L).map(i => (i, i * 1.0)).toDF("k", "v"),
      root)
    dmlMode(root)
    Snapshots.deleteWhere(spark, root, col("k") === 1L)
    Snapshots.shallowClone(spark, root, dst)
    assert(Snapshots.read(spark, dst).count() == 9)
    // supersede the vector, then retire history: the old sidecar dies
    Snapshots.deleteWhere(spark, root, col("k") === 2L)
    Snapshots.compact(spark, root, numFiles = 1)
    Snapshots.vacuum(spark, root, keepVersions = 1)
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val bins = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root), true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".bin")) n += 1 }
      n
    }
    assert(bins == 0, s"expected all DV sidecars reaped, found $bins")
    assert(Snapshots.read(spark, root).count() == 8)
    // the source vacuum reaped bytes the clone still referenced — the
    // DOCUMENTED shallow-clone caveat; the clone's audit reports it
    // instead of silently misreading
    assert(Snapshots.audit(spark, dst).collect()
      .exists(_.getString(1) == "missing"))
  }

  test("vector merge equals CoW semantics with zero rewrites") {
    val root = freshRoot()
    Snapshots.append((0L until 50L).map(i => (i, i * 1.0)).toDF("k", "v"),
      root)
    Snapshots.append((50L until 100L).map(i => (i, i * 1.0)).toDF("k", "v"),
      root)
    dmlMode(root)
    val filesBefore = manifestFiles(root)
    val src = Seq((7L, 700.0), (63L, 630.0), (500L, 5.0)).toDF("k", "v")
    val r = Snapshots.merge(spark, root, src, Seq("k"))
    assert(r.rowsReplaced == 2L && r.rewrittenFiles > 0)
    // old files all still present; only source files were added
    assert(filesBefore.subsetOf(manifestFiles(root)))
    val got = Snapshots.read(spark, root).as[(Long, Double)]
      .collect().toSet
    val want = (0L until 100L).filterNot(i => i == 7L || i == 63L)
      .map(i => (i, i * 1.0)).toSet ++
      Set((7L, 700.0), (63L, 630.0), (500L, 5.0))
    assert(got == want)
  }

  test("vector merge composes with prior vectors and accretes") {
    val root = freshRoot()
    Snapshots.append((0L until 20L).map(i => (i, i * 1.0)).toDF("k", "v")
      .coalesce(1), root)
    dmlMode(root)
    Snapshots.deleteWhere(spark, root, col("k") === 3L)
    Snapshots.merge(spark, root, Seq((4L, 44.0)).toDF("k", "v"),
      Seq("k"))
    // a second upsert of the SAME key must replace the first upsert's
    // row (which lives in an appended file), not resurrect anything
    Snapshots.merge(spark, root, Seq((4L, 444.0)).toDF("k", "v"),
      Seq("k"))
    val got = Snapshots.read(spark, root).as[(Long, Double)]
      .collect().toSet
    val want = (0L until 20L).filterNot(i => i == 3L || i == 4L)
      .map(i => (i, i * 1.0)).toSet + ((4L, 444.0))
    assert(got == want)
  }

  test("metadata-only commits past the checkpoint keep deletion vectors") {
    // v1 append, v2 the DML mode, v3 vector, v4..v12 metadata-only: v10
    // is the forced full checkpoint, which must carry the vector of
    // every file it keeps — else the deleted rows come back there
    val metaCommits: Seq[(String, (String, Int) => Int)] = Seq(
      ("setProperty", (root: String, i: Int) =>
        Snapshots.setProperty(spark, root, "note", s"n$i")),
      ("addColumn", (root: String, i: Int) =>
        Snapshots.addColumn(spark, root, s"c$i",
          org.apache.spark.sql.types.LongType)),
      ("setConstraint", (root: String, i: Int) =>
        Snapshots.setConstraint(spark, root, s"k_nonneg_$i", "k >= 0")))
    metaCommits.foreach { case (verb, commit) =>
      val root = freshRoot()
      Snapshots.append((0L until 100L).map(i => (i, i * 1.0)).toDF("k", "v"),
        root)
      dmlMode(root)
      Snapshots.deleteWhere(spark, root, col("k") < 10L)
      assert(Snapshots.read(spark, root).count() == 90L, verb)
      (1 to 9).foreach { i =>
        commit(root, i)
        val v = Snapshots.currentVersion(spark, root).get
        assert(Snapshots.read(spark, root).count() == 90L,
          s"$verb: row count at v$v")
        assert(Snapshots.read(spark, root).filter(col("k") < 10L).count() ==
          0L, s"$verb: deleted rows resurrected at v$v")
      }
    }
  }

  test("past the bound a vector delete commits copy-on-write") {
    // 120k rows, 108k matches: past the bound of positions one vector
    // commit records, so the delete rewrites instead of refusing
    val root = freshRoot()
    Snapshots.append(spark.range(0L, 120000L).toDF("k").coalesce(1), root)
    dmlMode(root)
    val r = Snapshots.deleteWhere(spark, root, col("k") % 10L =!= 0L)
    assert(r.dvFiles == 0 && r.positionsDeleted == 0L && r.rewrittenFiles > 0,
      r.toString)
    assert(Snapshots.history(spark, root).head().getString(2) == "delete")
    assert(Snapshots.read(spark, root).as[Long].collect().sorted.toSeq ==
      (0L until 120000L by 10L))
  }
}
