package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** UPDATE contract: file-level pruning, SQL NULL semantics,
  * declared-type casts, constraint enforcement, and the no-match
  * no-commit short-circuit — copy-on-write, and by deletion vector on a
  * `merge-on-read` table. */
class UpdateWhereSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_upd").toFile.toString + "/t"

  test("updates only matching rows; others byte-identical") {
    val root = freshRoot()
    Snapshots.append((1L to 10L).map(i => (i, i * 1.0, s"s$i"))
      .toDF("id", "v", "tag"), root)
    val r = Snapshots.updateWhere(spark, root, col("id") <= 3L,
      Seq("v" -> (col("v") * 100), "tag" -> lit("hit")))
    assert(r.version == 2)
    val got = Snapshots.read(spark, root).orderBy("id").collect()
    assert(got.take(3).forall(x =>
      x.getDouble(1) == x.getLong(0) * 100.0 && x.getString(2) == "hit"))
    assert(got.drop(3).forall(x =>
      x.getDouble(1) == x.getLong(0) * 1.0 && x.getString(2) == s"s${x.getLong(0)}"))
  }

  test("stats-pruned files carry untouched; only may-match rewrite") {
    val root = freshRoot()
    // three appends = three files with disjoint id ranges
    Snapshots.append((1L to 10L).map(i => (i, 0.0)).toDF("id", "v"), root)
    Snapshots.append((11L to 20L).map(i => (i, 0.0)).toDF("id", "v"), root)
    Snapshots.append((21L to 30L).map(i => (i, 0.0)).toDF("id", "v"), root)
    val r = Snapshots.updateWhere(spark, root, col("id") === 15L,
      Seq("v" -> lit(9.9)))
    assert(r.untouchedFiles >= 2) // files 1-10 and 21-30 disproved
    assert(r.rewrittenFiles >= 1)
    val got = Snapshots.read(spark, root)
    assert(got.filter(col("v") === 9.9).select("id").as[Long]
      .collect().toSeq == Seq(15L))
    assert(got.count() == 30)
  }

  test("NULL predicate leaves the row unchanged (IS TRUE semantics)") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
      .toDF("id", "v"), root)
    Snapshots.updateWhere(spark, root, col("v") > 0.0,
      Seq("id" -> (col("id") + 100L)))
    // row 2: v is NULL -> pred NULL -> untouched
    assert(Snapshots.read(spark, root).select("id").as[Long]
      .collect().sorted.toSeq == Seq(2L, 101L, 103L))
  }

  test("assignment casts to the declared column type") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 2.5)).toDF("id", "v"), root)
    Snapshots.updateWhere(spark, root, lit(true), Seq("v" -> lit(7)))
    val f = Snapshots.read(spark, root).schema("v")
    assert(f.dataType == org.apache.spark.sql.types.DoubleType)
    assert(Snapshots.read(spark, root).head().getDouble(1) == 7.0)
  }

  test("CHECK constraints veto an update that would violate them") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), root)
    Snapshots.setConstraint(spark, root, "v_pos", "v > 0")
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, root, col("id") === 1L,
        Seq("v" -> lit(-5.0)))
    }
    assert(Snapshots.read(spark, root).head().getDouble(1) == 2.0)
  }

  test("no file can match: no commit, current version returned") {
    val root = freshRoot()
    Snapshots.append((1L to 5L).map(i => (i, 0.0)).toDF("id", "v"), root)
    val r = Snapshots.updateWhere(spark, root, col("id") > 100L,
      Seq("v" -> lit(1.0)))
    assert(r.version == 1 && r.rewrittenFiles == 0)
    assert(Snapshots.versions(spark, root) == Seq(1))
  }

  test("unknown assignment target refuses") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), root)
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, root, lit(true), Seq("nope" -> lit(1)))
    }
  }

  test("updates respect deletion vectors on rewritten files") {
    val root = freshRoot()
    Snapshots.append((1L to 10L).map(i => (i, 0.0)).toDF("id", "v"), root)
    dmlMode(root)
    Snapshots.deleteWhere(spark, root, col("id") <= 2L)
    dmlMode(root, mor = false)
    Snapshots.updateWhere(spark, root, col("id") <= 5L,
      Seq("v" -> lit(1.0)))
    val got = Snapshots.read(spark, root)
    assert(got.count() == 8) // DV'd rows stay deleted through the rewrite
    assert(got.filter(col("v") === 1.0).count() == 3) // ids 3,4,5
  }

  test("vector update: same content as CoW, vectors not rewrites") {
    val root = freshRoot(); val twin = freshRoot()
    val base = (1L to 50L).map(i => (i, i * 1.0, s"s$i"))
    Snapshots.append(base.toDF("id", "v", "tag"), root)
    Snapshots.append(base.toDF("id", "v", "tag"), twin)
    dmlMode(root)
    val r = Snapshots.updateWhere(spark, root, col("id") % 10 === 3L,
      Seq("v" -> (col("v") * -1), "tag" -> lit("hit")))
    Snapshots.updateWhere(spark, twin, col("id") % 10 === 3L,
      Seq("v" -> (col("v") * -1), "tag" -> lit("hit")))
    assert(r.updatedRows == 5 && r.dvFiles >= 1)
    assert(Snapshots.read(spark, root).orderBy("id").collect().toSeq ==
      Snapshots.read(spark, twin).orderBy("id").collect().toSeq)
    assert(Snapshots.history(spark, root).head().getString(2)
      == "update-light")
  }

  test("vector update composes with prior vectors; drops whole files") {
    val root = freshRoot()
    Snapshots.append((1L to 10L).map(i => (i, 0.0)).toDF("id", "v"), root)
    Snapshots.append((11L to 20L).map(i => (i, 0.0)).toDF("id", "v"), root)
    dmlMode(root)
    Snapshots.deleteWhere(spark, root, col("id").isin(1L, 2L))
    // update EVERY surviving row of file 1: its originals fully retire
    val r = Snapshots.updateWhere(spark, root, col("id") <= 10L,
      Seq("v" -> lit(7.0)))
    assert(r.updatedRows == 8)
    // every first-append file had all surviving rows updated: originals
    // fully retire and leave the manifest whole (count depends on how
    // many part-files the append wrote)
    assert(r.droppedFiles >= 1)
    val got = Snapshots.read(spark, root)
    assert(got.count() == 18)
    assert(got.filter(col("v") === 7.0).count() == 8)
  }

  test("past the bound a vector update commits copy-on-write") {
    // 120k rows, 108k matches: past the bound of positions one vector
    // commit records, so the update rewrites instead of refusing
    val root = freshRoot()
    Snapshots.append(spark.range(0L, 120000L).toDF("id")
      .withColumn("v", lit(0.0)).coalesce(1), root)
    dmlMode(root)
    val r = Snapshots.updateWhere(spark, root, col("id") % 10L =!= 0L,
      Seq("v" -> lit(1.0)))
    assert(r.dvFiles == 0 && r.updatedRows == 0L && r.rewrittenFiles > 0,
      r.toString)
    assert(Snapshots.versions(spark, root) == Seq(1, 2, 3))
    assert(Snapshots.history(spark, root).head().getString(2) == "update")
    val got = Snapshots.read(spark, root)
    assert(got.count() == 120000L)
    assert(got.filter(col("v") === 1.0).count() == 108000L)
    assert(got.filter(col("v") === 0.0).select("id").as[Long].collect()
      .sorted.toSeq == (0L until 120000L by 10L))
  }

  test("vector update enforces CHECK constraints") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), root)
    Snapshots.setConstraint(spark, root, "v_pos", "v > 0")
    dmlMode(root)
    intercept[IllegalArgumentException] {
      Snapshots.updateWhere(spark, root, col("id") === 1L,
        Seq("v" -> lit(-1.0)))
    }
    assert(Snapshots.read(spark, root).head().getDouble(1) == 2.0)
  }

  test("history records the update operation") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), root)
    Snapshots.updateWhere(spark, root, lit(true), Seq("v" -> lit(3.0)))
    assert(Snapshots.history(spark, root).orderBy(col("version").desc)
      .head().getString(2) == "update")
  }
}
