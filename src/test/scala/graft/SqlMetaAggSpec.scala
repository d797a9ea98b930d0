package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame

import graft.ops.Snapshots

/** Metadata-only aggregates on the SQL path
  * ([[graft.sql.GraftResolution.metadataAggregate]]): a whole-table
  * `count(*)`/`count(col)`/`min`/`max` over a catalog snapshot table is
  * answered from manifest stats — no data file opened — and every shape
  * the stats cannot answer EXACTLY falls through to the normal scan.
  * The 100 TB contract: `SELECT count(*) FROM t` must cost a manifest
  * read, not a table scan. */
class SqlMetaAggSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_sqlmeta_wh").toFile.toString
    spark.conf.set("spark.sql.catalog.gm", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gm.warehouse", w)
    w
  }

  private def scansData(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("FileScan")

  private def mk(name: String): String = {
    warehouse
    spark.sql(s"DROP TABLE IF EXISTS gm.default.$name")
    spark.sql(s"CREATE TABLE gm.default.$name (id BIGINT, v DOUBLE, s STRING)")
    spark.sql(s"INSERT INTO gm.default.$name VALUES " +
      "(1, 10.5, 'a'), (2, -3.25, 'b'), (3, 99.0, 'c')")
    spark.sql(s"INSERT INTO gm.default.$name VALUES (4, 0.0, 'd'), (5, 7.75, null)")
    s"$warehouse/default/$name"
  }

  test("whole-table count/min/max answer from the manifest: no FileScan") {
    mk("m1")
    val df = spark.sql(
      "SELECT count(*) AS n, count(v) AS nv, min(id) AS mn, max(v) AS mx " +
        "FROM gm.default.m1")
    assert(!scansData(df), df.queryExecution.executedPlan.toString)
    assert(df.as[(Long, Long, Long, Double)].head() == ((5L, 5L, 1L, 99.0)))
  }

  test("the answer survives corrupting the data bytes — no file is opened") {
    val dir = mk("m2")
    val fs = new HPath(dir).getFileSystem(
      spark.sessionState.newHadoopConf())
    // zero out every data file: any plan that OPENS one dies on the
    // missing parquet footer (paths must survive — the catalog derives
    // the relation at analysis time from the manifest's file list)
    val it = fs.listFiles(new HPath(s"$dir/data"), true)
    var burned = 0
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) {
        fs.create(f, true).close(); burned += 1
      }
    }
    assert(burned > 0)
    assert(spark.sql("SELECT count(*) AS n, max(id) AS mx FROM gm.default.m2")
      .as[(Long, Long)].head() == ((5L, 5L)))
  }

  test("GROUP BY, DISTINCT, FILTER, string bounds, sum fall through") {
    mk("m3")
    val cases = Seq(
      "SELECT id, count(*) FROM gm.default.m3 GROUP BY id",
      "SELECT count(DISTINCT id) FROM gm.default.m3",
      "SELECT count(*) FILTER (WHERE v > 0) FROM gm.default.m3",
      "SELECT min(s) FROM gm.default.m3",
      "SELECT sum(v) FROM gm.default.m3")
    cases.foreach { q =>
      assert(scansData(spark.sql(q)), s"expected a scan for: $q")
    }
    // and the fallen-through answers are right
    assert(spark.sql(cases(3)).as[String].head() == "a")
    // aggregates under a WHERE take the stats-DECIDED path (exact
    // either way — files it cannot decide scan; see CountWhereSpec)
    assert(spark.sql("SELECT count(*) FROM gm.default.m3 WHERE id > 2")
      .as[Long].head() == 3L)
    assert(spark.sql("SELECT min(id) FROM gm.default.m3 WHERE v > 0")
      .as[Long].head() == 1L)
  }

  test("deletion vectors: count(*) stays metadata-only, column stats scan") {
    warehouse
    spark.sql("DROP TABLE IF EXISTS gm.default.m4")
    spark.sql("CREATE TABLE gm.default.m4 (id BIGINT, v DOUBLE, s STRING)")
    val dir = s"$warehouse/default/m4"
    // ONE data file, so the row delete must leave a deletion vector
    // (a per-row file would be dropped whole — no DV, stats exact)
    Snapshots.append(Seq((1L, 10.5, "a"), (2L, -3.25, "b"), (3L, 99.0, "c"),
      (4L, 0.0, "d"), (5L, 7.75, "e")).toDF("id", "v", "s").coalesce(1), dir)
    dmlMode(dir)
    val res = Snapshots.deleteWhere(spark, dir, $"id" === 2)
    assert(res.dvFiles == 1 && res.droppedFiles == 0, res.toString)
    val cnt = spark.sql("SELECT count(*) AS n FROM gm.default.m4")
    assert(!scansData(cnt), cnt.queryExecution.executedPlan.toString)
    assert(cnt.as[Long].head() == 4L)
    // column stats are bounds, not attained values, under a DV → scan
    val mn = spark.sql("SELECT min(v) AS mn FROM gm.default.m4")
    assert(scansData(mn), mn.queryExecution.executedPlan.toString)
    assert(mn.as[Double].head() == 0.0)
  }

  test("VERSION AS OF answers at the pinned version") {
    mk("m5") // v1 CREATE, v2 first INSERT (3 rows), v3 second (5 rows)
    spark.sql("INSERT INTO gm.default.m5 VALUES (9, 1.0, 'z')")
    val pinned = spark.sql(
      "SELECT count(*) AS n, max(id) AS mx FROM gm.default.m5 VERSION AS OF 2")
    assert(!scansData(pinned), pinned.queryExecution.executedPlan.toString)
    assert(pinned.as[(Long, Long)].head() == ((3L, 3L)))
    assert(spark.sql("SELECT count(*) FROM gm.default.m5").as[Long].head() == 6L)
  }

  test("consumers above the aggregate keep their references") {
    mk("m6")
    val df = spark.sql(
      "SELECT max(id) AS mx, count(*) AS n FROM gm.default.m6 ORDER BY n")
    assert(!scansData(df))
    assert(df.as[(Long, Long)].head() == ((5L, 5L)))
    // subquery-projection shape sees through the pass-through Project
    val sub = spark.sql(
      "SELECT min(id) AS mn FROM (SELECT id FROM gm.default.m6)")
    assert(!scansData(sub))
    assert(sub.as[Long].head() == 1L)
  }

  test("the DataFrame reader path plans metadata-only too") {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val dir = mk("m8")
    val rel = spark.read.format("graft-snapshots")
      .option("path", dir).load()
    val df = rel.agg(count(lit(1)).as("n"), min($"id").as("mn"),
      max($"v").as("mx"))
    assert(!scansData(df), df.queryExecution.executedPlan.toString)
    // the proof: corrupt every data byte — the answer must survive
    val fs = new HPath(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(new HPath(s"$dir/data"), true)
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) fs.create(f, true).close()
    }
    assert(df.as[(Long, Long, Double)].head() == ((5L, 1L, 99.0)))
    // a filtered aggregate the stats can DECIDE also skips the bytes
    val cw = spark.read.format("graft-snapshots").option("path", dir)
      .load().filter($"id" > 100L).agg(count(lit(1)).as("n"))
    assert(cw.as[Long].head() == 0L)
    // non-exact shapes still fall through to the (row-served) scan
    val sum = rel.agg(org.apache.spark.sql.functions.sum($"v"))
    assert(sum.queryExecution.executedPlan.toString.contains("Scan") ||
      scansData(sum))
  }
}
