package graft

import java.nio.file.Files

import graft.ops.Snapshots

/** `table_changes('catalog.db.table', start[, end])` — the SQL
  * table-valued spelling of the batch change feed
  * ([[graft.sql.GraftTableFunctions]]). Contracts: identical rows to
  * the Scala API feed, inclusive version bounds with `end` defaulting
  * to current, timestamp bounds in session time, literal-only
  * arguments, short names resolving in the current catalog/namespace —
  * every misuse refused loudly. */
class SqlTableChangesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_tvf_wh").toFile.toString
    spark.conf.set("spark.sql.catalog.gtc", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtc.warehouse", w)
    w
  }

  private def mk(name: String): String = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS gtc.default.$name")
    spark.sql(s"CREATE TABLE gtc.default.$name (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES ('dml.mode' = 'merge-on-read')")
    spark.sql(s"INSERT INTO gtc.default.$name VALUES (1, 1.0), (2, 2.0)")
    spark.sql(s"INSERT INTO gtc.default.$name VALUES (3, 3.0)")
    spark.sql(s"DELETE FROM gtc.default.$name WHERE id = 2")
    s"$warehouse/default/$name"
  }

  test("identical rows to the Scala-API change feed, full history") {
    val dir = mk("t1")
    val sql = spark.sql(
      "SELECT * FROM table_changes('gtc.default.t1', 1) " +
        "ORDER BY _commit_version, _change_type, id")
    val api = Snapshots.changeFeed(spark, dir, 0)
      .orderBy("_commit_version", "_change_type", "id")
    assert(sql.columns.toSeq == api.columns.toSeq)
    assert(sql.collect().toSeq == api.collect().toSeq)
    // and the content is the expected decomposition
    val rows = sql.select("_change_type", "_commit_version", "id")
      .as[(String, Int, Long)].collect().toSeq
    assert(rows == Seq(("insert", 2, 1L), ("insert", 2, 2L),
      ("insert", 3, 3L), ("delete", 4, 2L)))
  }

  test("inclusive bounds; end defaults to current") {
    mk("t2")
    val mid = spark.sql(
      "SELECT _change_type, id FROM table_changes('gtc.default.t2', 2, 3) " +
        "ORDER BY id").as[(String, Long)].collect().toSeq
    assert(mid == Seq(("insert", 1L), ("insert", 2L), ("insert", 3L)))
    val tail = spark.sql(
      "SELECT _change_type, id FROM table_changes('gtc.default.t2', 4) " +
        "ORDER BY id").as[(String, Long)].collect().toSeq
    assert(tail == Seq(("delete", 2L)))
  }

  test("timestamp start bound resolves in session time") {
    mk("t3")
    val rows = spark.sql("SELECT count(*) FROM " +
      "table_changes('gtc.default.t3', '1970-01-01 00:00:00')")
      .as[Long].head()
    assert(rows == 4L) // 3 inserts + 1 delete, whole history
  }

  test("the feed composes with SQL aggregation and joins") {
    mk("t4")
    val rollup = spark.sql(
      """SELECT _change_type, count(*) AS n, sum(id) AS s
        |FROM table_changes('gtc.default.t4', 1)
        |GROUP BY _change_type ORDER BY _change_type""".stripMargin)
      .as[(String, Long, Long)].collect().toSeq
    assert(rollup == Seq(("delete", 1L, 2L), ("insert", 3L, 6L)))
  }

  test("short names resolve in the session's current catalog/namespace") {
    mk("t6")
    spark.sql("USE gtc")
    try {
      assert(spark.sql(
        "SELECT count(*) FROM table_changes('default.t6', 1)")
        .as[Long].head() == 4L)
      spark.sql("USE gtc.default")
      assert(spark.sql("SELECT count(*) FROM table_changes('t6', 1)")
        .as[Long].head() == 4L)
    } finally spark.sql("USE spark_catalog")
  }

  test("misuse refuses loudly") {
    mk("t5")
    val cases = Seq(
      "SELECT * FROM table_changes('gtc.default.t5')" -> "table_changes",
      // two-part names resolve in the CURRENT catalog (spark_catalog
      // here), which is not a GraftCatalog — loud refusal
      "SELECT * FROM table_changes('default.t5', 1)" -> "GraftCatalog",
      "SELECT * FROM table_changes('gtc.default.t5', 1.5)" -> "bounds",
      "SELECT * FROM table_changes(42, 1)" -> "STRING literal")
    cases.foreach { case (q, needle) =>
      val e = intercept[Exception](spark.sql(q).collect())
      def all(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: all(t.getCause)
      assert(all(e).exists(m => m != null && m.contains(needle)),
        s"$q → ${e.getMessage}")
    }
  }
}
