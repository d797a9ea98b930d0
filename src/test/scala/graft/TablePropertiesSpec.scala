package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Table properties: pinned per commit, carried by EVERY commit kind
  * (the same discipline as constraints — a property silently dropped
  * by one DML verb is a corruption), time-travel visible, and the
  * `cluster.columns` property steers [[Snapshots.maintain]]. */
class TablePropertiesSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_props").toFile.toString + "/t"

  test("set/unset round-trip and refusal on absent keys") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), root)
    Snapshots.setProperty(spark, root, "owner.team", "data-eng")
    Snapshots.setProperty(spark, root, "cluster.columns", "id")
    assert(Snapshots.tableProperties(spark, root) ==
      Map("owner.team" -> "data-eng", "cluster.columns" -> "id"))
    assert(Snapshots.clusterColumns(spark, root) == Seq("id"))
    Snapshots.unsetProperty(spark, root, "owner.team")
    assert(Snapshots.tableProperties(spark, root).keySet ==
      Set("cluster.columns"))
    intercept[IllegalArgumentException] {
      Snapshots.unsetProperty(spark, root, "nope")
    }
  }

  test("every commit kind carries properties forward") {
    val root = freshRoot()
    Snapshots.append((1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v"), root)
    Snapshots.setProperty(spark, root, "k", "v1")
    def check(tag: String): Unit =
      assert(Snapshots.tableProperties(spark, root).get("k")
        .contains("v1"), s"property lost by $tag")
    Snapshots.append(Seq((100L, 1.0)).toDF("id", "v"), root); check("append")
    Snapshots.merge(spark, root, Seq((1L, 9.0)).toDF("id", "v"), Seq("id"))
    check("merge")
    dmlMode(root); check("set-mode")
    Snapshots.merge(spark, root, Seq((2L, 9.0)).toDF("id", "v"),
      Seq("id")); check("merge-light")
    dmlMode(root, mor = false)
    Snapshots.deleteWhere(spark, root, col("id") === 3L); check("delete")
    dmlMode(root)
    Snapshots.deleteWhere(spark, root, col("id") === 4L)
    check("delete-light")
    assert(Snapshots.tableProperties(spark, root).get(Snapshots.DmlModeKey)
      .contains("merge-on-read"), "the mode itself carries forward")
    dmlMode(root, mor = false)
    Snapshots.updateWhere(spark, root, col("id") === 5L,
      Seq("v" -> lit(0.0))); check("update")
    Snapshots.deleteMatching(spark, root, Seq(6L).toDF("id"), Seq("id"))
    check("deleteMatching")
    Snapshots.compact(spark, root, numFiles = 1); check("compact")
    Snapshots.optimize(spark, root, Seq("id", "v"), 2); check("optimize")
    Snapshots.renameColumn(spark, root, "v", "val"); check("rename")
    Snapshots.setConstraint(spark, root, "v_fin", "val IS NOT NULL")
    check("add-constraint")
    Snapshots.setBloomColumns(spark, root, Seq("id")); check("bloom-index")
    Snapshots.restore(spark, root, Snapshots.currentVersion(spark, root).get)
    check("restore")
    // time travel sees the pre-property state
    assert(Snapshots.tableProperties(spark, root, version = 1).isEmpty)
    // an overwrite starts a FRESH lineage: properties reset by design
    Snapshots.overwrite(Seq((9L, 9.0)).toDF("id", "val"), root)
    assert(Snapshots.tableProperties(spark, root).isEmpty)
  }

  test("dml.mode refuses a value other than its two modes") {
    val root = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), root)
    // the refusal names both modes (SQL wraps it: read the cause chain)
    def namesBoth(e: Throwable): Unit = {
      val msg = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" / ")
      assert(msg.contains("copy-on-write") && msg.contains("merge-on-read"),
        msg)
    }
    def refused(set: => Any): Unit = {
      namesBoth(intercept[IllegalArgumentException](set))
      assert(Snapshots.currentVersion(spark, root).contains(1),
        "a refused mode committed")
    }
    refused(Snapshots.setProperty(spark, root, Snapshots.DmlModeKey,
      "delete-vectors"))
    // through SQL, also when a valid change precedes it in the statement
    val wh = Files.createTempDirectory("graft_props_wh").toFile.toString
    spark.conf.set("spark.sql.catalog.gprops", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gprops.warehouse", wh)
    spark.sql("CREATE TABLE gprops.default.m (id BIGINT)")
    namesBoth(intercept[Exception](spark.sql(
      "ALTER TABLE gprops.default.m SET TBLPROPERTIES " +
        "('team' = 'x', 'dml.mode' = 'MERGE-ON-READ')")))
    assert(Snapshots.currentVersion(spark, s"$wh/default/m").contains(1))
    assert(Snapshots.tableProperties(spark, s"$wh/default/m").isEmpty)
    // and at create time
    namesBoth(intercept[Exception](spark.sql(
      "CREATE TABLE gprops.default.c (id BIGINT) " +
        "TBLPROPERTIES ('dml.mode' = 'cow')")))
    assert(Snapshots.currentVersion(spark, s"$wh/default/c").isEmpty)
    // the two names pass
    Seq("merge-on-read", "copy-on-write").foreach(m =>
      Snapshots.setProperty(spark, root, Snapshots.DmlModeKey, m))
    assert(Snapshots.tableProperties(spark, root)(Snapshots.DmlModeKey) ==
      "copy-on-write")
  }

  test("clone carries the source's properties") {
    val src = freshRoot(); val dst = freshRoot()
    Snapshots.append(Seq((1L, 2.0)).toDF("id", "v"), src)
    Snapshots.setProperty(spark, src, "k", "v1")
    Snapshots.shallowClone(spark, src, dst)
    assert(Snapshots.tableProperties(spark, dst).get("k").contains("v1"))
  }

  test("maintain OPTIMIZEs by declared cluster columns") {
    val root = freshRoot()
    // 12 shuffled-key commits: without clustering, compact would just
    // concatenate; with cluster.columns the rewrite is key-ordered
    (0 until 12).foreach(i => Snapshots.append(
      (0 until 50).map(j => ((j * 17 + i * 7) % 600).toLong -> i.toDouble)
        .toDF("id", "v"), root))
    Snapshots.setProperty(spark, root, "cluster.columns", "id")
    val r = Snapshots.maintain(spark, root, maxFiles = 8, targetFiles = 4)
    assert(r.compactedTo.nonEmpty)
    // key-ordered layout: the files' id ranges are (near-)disjoint, so
    // a point readWhere opens ~1 file instead of all of them
    val pruned = Snapshots.readWhere(spark, root, col("id") === 123L)
    assert(pruned.inputFiles.length <= 2,
      s"expected a pruned point read, scanned ${pruned.inputFiles.length}")
    assert(Snapshots.read(spark, root).count() == 600)
  }
}
