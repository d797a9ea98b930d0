package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Scoped-overwrite (REPLACE WHERE) contract: one atomic commit,
  * file-level pruning, scope containment, constraint enforcement,
  * idempotent re-load, and CDC decomposition through the change feed. */
class ReplaceWhereSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_rpl").toFile.toString + "/t"

  test("replaces exactly the predicate's rows with the incoming data") {
    val root = freshRoot()
    Snapshots.append((1L to 10L).map(i => (i, s"old$i"))
      .toDF("id", "tag"), root)
    val r = Snapshots.replaceWhere(spark, root, col("id") <= 3L,
      Seq((1L, "new1"), (3L, "new3")).toDF("id", "tag"))
    assert(r.version == 2)
    val got = Snapshots.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq(1L -> "new1", 3L -> "new3") ++
      (4L to 10L).map(i => i -> s"old$i"))
  }

  test("stats-pruned files carry; fully-replaced files drop whole") {
    val root = freshRoot()
    // three appends = three files with disjoint id ranges
    Snapshots.append((1L to 10L).map(i => (i, 0.0)).toDF("id", "v"), root)
    Snapshots.append((11L to 20L).map(i => (i, 0.0)).toDF("id", "v"), root)
    Snapshots.append((21L to 30L).map(i => (i, 0.0)).toDF("id", "v"), root)
    // replace the whole middle file's range: it drops whole, the
    // neighbors carry untouched, nothing mixed remains to rewrite
    val r = Snapshots.replaceWhere(spark, root,
      col("id") >= 11L && col("id") <= 20L,
      Seq((15L, 9.9)).toDF("id", "v"))
    assert(r.untouchedFiles >= 2) // files of ids 1-10 and 21-30 disproved
    assert(r.droppedFiles >= 1)   // the 11-20 files have no survivor
    val got = Snapshots.read(spark, root)
    assert(got.count() == 21)
    assert(got.filter(col("id").between(11L, 20L)).as[(Long, Double)]
      .collect().toSeq == Seq(15L -> 9.9))
  }

  test("incoming rows outside the scope refuse loudly") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), root)
    val e = intercept[IllegalArgumentException] {
      Snapshots.replaceWhere(spark, root, col("id") === 1L,
        Seq((2L, "drift")).toDF("id", "tag"))
    }
    assert(e.getMessage.contains("replace predicate"))
    // nothing committed
    assert(Snapshots.currentVersion(spark, root).contains(1))
  }

  test("NULL-predicate incoming rows refuse; NULL existing rows are kept") {
    val root = freshRoot()
    Snapshots.append(Seq((Some(1.0), "a"), (None, "nullrow"))
      .toDF("v", "tag"), root)
    intercept[IllegalArgumentException] {
      Snapshots.replaceWhere(spark, root, col("v") > 0.0,
        Seq((Option.empty[Double], "in")).toDF("v", "tag"))
    }
    Snapshots.replaceWhere(spark, root, col("v") > 0.0,
      Seq((Some(2.0), "new")).toDF("v", "tag"))
    // the NULL-predicate existing row survived (SQL DELETE semantics)
    assert(Snapshots.read(spark, root).select("tag").as[String]
      .collect().sorted.toSeq == Seq("new", "nullrow"))
  }

  test("a single file holding matching AND NULL-predicate rows is " +
      "rewritten, not dropped whole — NULL rows survive") {
    val root = freshRoot()
    // ONE data file: min/max stats disprove !pred (id > 3) while a
    // NULL row hides inside the interval's blind spot
    Snapshots.append(Seq((Some(1L), "a"), (Option.empty[Long], "nullrow"))
      .toDF("id", "tag").coalesce(1), root)
    Snapshots.replaceWhere(spark, root, col("id") <= 3L,
      Seq((Some(2L), "new")).toDF("id", "tag"))
    assert(Snapshots.read(spark, root).select("tag").as[String]
      .collect().sorted.toSeq == Seq("new", "nullrow"))
  }

  test("deleteWhere shares the null-guarded drop-whole split") {
    val root = freshRoot()
    Snapshots.append(Seq((Some(1L), "a"), (Option.empty[Long], "nullrow"))
      .toDF("id", "tag").coalesce(1), root)
    Snapshots.deleteWhere(spark, root, col("id") <= 3L)
    assert(Snapshots.read(spark, root).select("tag").as[String]
      .collect().toSeq == Seq("nullrow"))
    // and a genuinely all-matching null-free file still drops whole
    val root2 = freshRoot()
    Snapshots.append((1L to 5L).map(i => (i, "x")).toDF("id", "tag")
      .coalesce(1), root2)
    Snapshots.append((11L to 15L).map(i => (i, "y")).toDF("id", "tag")
      .coalesce(1), root2)
    val r = Snapshots.deleteWhere(spark, root2, col("id") <= 5L)
    assert(r.droppedFiles == 1 && r.untouchedFiles == 1)
    assert(Snapshots.read(spark, root2).count() == 5)
  }

  test("idempotent re-load: running the same replace twice is a no-op " +
      "in content") {
    val root = freshRoot()
    Snapshots.append((1L to 20L).map(i => (i % 3, i)).toDF("day", "x"), root)
    val load = Seq((1L, 100L), (1L, 101L)).toDF("day", "x")
    Snapshots.replaceWhere(spark, root, col("day") === 1L, load)
    val first = Snapshots.read(spark, root).orderBy("day", "x").collect()
    Snapshots.replaceWhere(spark, root, col("day") === 1L, load)
    val second = Snapshots.read(spark, root).orderBy("day", "x").collect()
    assert(first.toSeq == second.toSeq)
  }

  test("CHECK constraints enforce on the incoming data") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 5.0)).toDF("id", "v"), root)
    Snapshots.setConstraint(spark, root, "v_pos", "v > 0")
    val e = intercept[IllegalArgumentException] {
      Snapshots.replaceWhere(spark, root, col("id") === 1L,
        Seq((1L, -1.0)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("v_pos"))
  }

  test("column mismatch refuses; empty incoming data is a scoped DELETE") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), root)
    intercept[IllegalArgumentException] {
      Snapshots.replaceWhere(spark, root, col("id") === 1L,
        Seq(1L).toDF("id"))
    }
    Snapshots.replaceWhere(spark, root, col("id") === 1L,
      Seq.empty[(Long, String)].toDF("id", "tag"))
    assert(Snapshots.read(spark, root).select("id").as[Long]
      .collect().toSeq == Seq(2L))
  }

  test("change feed decomposes a replace-where into deletes + inserts") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "tag"), root)
    Snapshots.replaceWhere(spark, root, col("id") <= 2L,
      Seq((1L, "A"), (2L, "B")).toDF("id", "tag"))
    val feed = Snapshots.changeFeed(spark, root, 1)
      .select("id", "tag", "_change_type").as[(Long, String, String)]
      .collect().toSet
    assert(feed == Set((1L, "a", "delete"), (2L, "b", "delete"),
      (1L, "A", "insert"), (2L, "B", "insert")))
  }

  test("rewritten survivors apply deletion vectors — no resurrection") {
    val root = freshRoot()
    Snapshots.append((1L to 10L).map(i => (i, s"s$i")).toDF("id", "tag"),
      root)
    // a DV-deleted row inside the file the replace must rewrite
    dmlMode(root)
    Snapshots.deleteWhere(spark, root, col("id") === 4L)
    Snapshots.replaceWhere(spark, root, col("id") <= 2L,
      Seq((1L, "A"), (2L, "B")).toDF("id", "tag"))
    val got = Snapshots.read(spark, root).orderBy("id")
      .as[(Long, String)].collect().toSeq
    // 4 stays deleted, 1-2 replaced, 3 and 5..10 byte-identical
    assert(got == Seq(1L -> "A", 2L -> "B", 3L -> "s3") ++
      (5L to 10L).map(i => i -> s"s$i"))
  }

  test("change feed decomposes a truncate into row-level deletes") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), root)
    Snapshots.truncate(spark, root)
    val feed = Snapshots.changeFeed(spark, root, 1)
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Int)].collect().toSet
    assert(feed == Set((1L, "delete", 2), (2L, "delete", 2)))
  }

  test("age-based vacuum keeps the in-window versions plus current") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a")).toDF("id", "tag"), root) // v1
    Snapshots.append(Seq((2L, "b")).toDF("id", "tag"), root) // v2
    // v3 is a full manifest (no delta chain into v1/v2), so the aged
    // versions are genuinely droppable
    Snapshots.overwrite(Seq((3L, "c")).toDF("id", "tag"), root) // v3
    // age v1/v2 out of a 1-hour window; v3 stays young
    val twoHoursAgo = System.currentTimeMillis() - 2 * 3600 * 1000L
    Seq(1, 2).foreach { v =>
      new java.io.File(f"$root/_manifests/v$v%09d")
        .setLastModified(twoHoursAgo)
    }
    val (dropped, _) =
      Snapshots.vacuumOlderThan(spark, root, 3600 * 1000L)
    assert(dropped == 2)
    assert(Snapshots.versions(spark, root) == Seq(3))
    assert(Snapshots.read(spark, root).count() == 1) // content intact
    // a huge window drops nothing
    assert(Snapshots.vacuumOlderThan(spark, root, 24 * 3600 * 1000L)
      ._1 == 0)
  }

  test("history records the replace-where op; time travel keeps v1") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, "a")).toDF("id", "tag"), root)
    Snapshots.replaceWhere(spark, root, col("id") === 1L,
      Seq((1L, "A")).toDF("id", "tag"))
    val ops = Snapshots.history(spark, root)
      .select("operation").as[String].collect().toSet
    assert(ops.contains("replace-where"))
    assert(Snapshots.read(spark, root, 1).select("tag").as[String]
      .head() == "a")
  }
}
