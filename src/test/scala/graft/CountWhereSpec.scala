package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Stats-decided `count(*) WHERE pred` ([[Snapshots.countWhere]] and
  * the SQL rewrite behind `SELECT count(*) FROM t WHERE ...`): files
  * the manifest proves all-match or no-match are never opened; only
  * boundary files scan; every proof obligation fails open into the
  * scan set, so the count is exact for arbitrary deterministic
  * predicates. */
class CountWhereSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_cw").toFile.toString + "/t"

  /** Four single-file commits with disjoint id ranges 0-9/10-19/20-29/30-39. */
  private def rangeTable(): String = {
    val root = freshRoot()
    (0 until 4).foreach { b =>
      Snapshots.append(
        spark.range(b * 10L, b * 10L + 10).select($"id",
          ($"id" * 2.0).as("v")).coalesce(1), root)
    }
    root
  }

  test("interior files decided from stats; only boundary files scan") {
    val root = rangeTable()
    val r = Snapshots.countWhere(spark, root, $"id" >= 15 && $"id" < 30)
    assert(r.count == 15)
    assert(r.allMatchFiles == 1, r)  // 20-29 proven all-match
    assert(r.scannedFiles == 1, r)   // 10-19 is the boundary
    assert(r.prunedFiles == 2, r)    // 0-9 and 30-39 disjoint
    // exact-on-boundary predicates decide EVERY file
    val whole = Snapshots.countWhere(spark, root, $"id" >= 10 && $"id" < 30)
    assert(whole == Snapshots.CountWhereResult(20, 2, 0, 2), whole)
  }

  test("matches the scan answer for predicates of every decidability") {
    val root = rangeTable()
    val preds = Seq(
      $"id" % 7 === 3,                 // undecidable: all files scan
      $"id" >= 15 && $"id" % 2 === 0,  // half-recognized conjunction
      $"v" > 21.0 || $"id" < 3,        // disjunction
      lit(true), lit(false),
      $"id" < -5)
    preds.foreach { p =>
      val expected = Snapshots.read(spark, root).filter(p).count()
      assert(Snapshots.countWhere(spark, root, p).count == expected,
        p.toString)
    }
  }

  test("nulls in a referenced column block the all-match proof, not exactness") {
    val root = freshRoot()
    Snapshots.append(Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"),
      (null, "c")).toDF("id", "s").coalesce(1), root)
    Snapshots.append(Seq[(java.lang.Long, String)]((5L, "d"), (6L, "e"))
      .toDF("id", "s").coalesce(1), root)
    // every non-null id is < 10, but file 1 has a NULL id: count must
    // exclude the NULL row, so file 1 cannot be counted from stats
    val r = Snapshots.countWhere(spark, root, $"id" < 10)
    assert(r.count == 4, r)
    assert(r.allMatchFiles == 1 && r.scannedFiles == 1, r)
  }

  test("deletion vectors: all-match files contribute live rows only") {
    val root = rangeTable()
    dmlMode(root)
    val d = Snapshots.deleteWhere(spark, root, $"id".isin(22, 25, 27))
    assert(d.dvFiles == 1, d)
    val r = Snapshots.countWhere(spark, root, $"id" >= 15 && $"id" < 30)
    assert(r.count == 12, r) // 15 matching rows − 3 DV'd
    assert(r.allMatchFiles == 1 && r.scannedFiles == 1, r)
  }

  test("aggregateWhereFrame: filtered min/max/count(col) match the scan") {
    val root = rangeTable()
    val preds = Seq(
      $"id" >= 15 && $"id" < 30,  // boundary + all-match mix
      $"id" >= 10 && $"id" < 30,  // fully decided
      $"id" % 7 === 3,            // fully scanned
      $"id" < -5)                 // fully pruned (empty aggregate)
    preds.foreach { p =>
      val got = Snapshots.aggregateWhereFrame(spark, root, p,
        Seq("id", "v")).get.head()
      val want = Snapshots.read(spark, root).filter(p)
        .agg(count(lit(1)), count($"id"), min($"id"), max($"id"),
          count($"v"), min($"v"), max($"v")).head()
      assert(got == want, s"$p: $got vs $want")
    }
    // unknown and string columns refuse (caller falls back)
    assert(Snapshots.aggregateWhereFrame(spark, root,
      $"id" > 0, Seq("nope")).isEmpty)
  }

  test("aggregateWhereFrame: DV'd all-match files demote, stay exact") {
    val root = rangeTable()
    dmlMode(root)
    assert(Snapshots.deleteWhere(spark, root,
      $"id".isin(22, 25)).dvFiles == 1)
    val p = $"id" >= 15 && $"id" < 30
    val got = Snapshots.aggregateWhereFrame(spark, root, p, Seq("v"))
      .get.head()
    val want = Snapshots.read(spark, root).filter(p)
      .agg(count(lit(1)), count($"v"), min($"v"), max($"v")).head()
    assert(got == want, s"$got vs $want")
  }

  test("SQL min/max/count under WHERE: decided plans carry no FileScan") {
    val w = Files.createTempDirectory("graft_cw_wh2").toFile.toString
    spark.conf.set("spark.sql.catalog.gcx", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcx.warehouse", w)
    spark.sql("CREATE TABLE gcx.default.t (id BIGINT, v DOUBLE)")
    (0 until 4).foreach { b =>
      Snapshots.append(
        spark.range(b * 10L, b * 10L + 10).select($"id",
          ($"id" * 2.0).as("v")).coalesce(1), s"$w/default/t")
    }
    val decided = spark.sql("""SELECT count(*) AS n, count(v) AS nv,
      min(v) AS mn, max(id) AS mx
      FROM gcx.default.t WHERE id >= 10 AND id < 30""")
    assert(!decided.queryExecution.executedPlan.toString.contains("FileScan"),
      decided.queryExecution.executedPlan.toString)
    assert(decided.as[(Long, Long, Double, Long)].head() ==
      ((20L, 20L, 20.0, 29L)))
    // boundary shape: exact, with the undecided file scanned
    val boundary = spark.sql("""SELECT min(v) AS mn, max(v) AS mx
      FROM gcx.default.t WHERE id >= 15 AND id < 30""")
    assert(boundary.as[(Double, Double)].head() == ((30.0, 58.0)))
  }

  test("SQL count(*) WHERE: zero FileScan when every file is decided") {
    val w = Files.createTempDirectory("graft_cw_wh").toFile.toString
    spark.conf.set("spark.sql.catalog.gcw", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcw.warehouse", w)
    spark.sql("CREATE TABLE gcw.default.t (id BIGINT, v DOUBLE)")
    (0 until 4).foreach { b =>
      Snapshots.append(
        spark.range(b * 10L, b * 10L + 10).select($"id",
          ($"id" * 2.0).as("v")).coalesce(1), s"$w/default/t")
    }
    val decided = spark.sql(
      "SELECT count(*) AS n FROM gcw.default.t WHERE id >= 10 AND id < 30")
    assert(!decided.queryExecution.executedPlan.toString.contains("FileScan"),
      decided.queryExecution.executedPlan.toString)
    assert(decided.as[Long].head() == 20L)
    // boundary shape: still exact, scans only the undecided file(s)
    val boundary = spark.sql(
      "SELECT count(*) AS n FROM gcw.default.t WHERE id >= 15 AND id < 30")
    assert(boundary.as[Long].head() == 15L)
    // mixed count + max under a fully-decided filter: also scan-free
    // (an all-match file's bounds ARE attained by matching rows)
    val mixed = spark.sql(
      "SELECT count(*) AS n, max(id) AS mx FROM gcw.default.t WHERE id < 30")
    assert(!mixed.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(mixed.as[(Long, Long)].head() == ((30L, 29L)))
    // non-deterministic predicates fall through
    val rnd = spark.sql(
      "SELECT count(*) AS n FROM gcw.default.t WHERE rand() <= 1.0")
    assert(rnd.queryExecution.executedPlan.toString.contains("FileScan"))
    assert(rnd.as[Long].head() == 40L)
  }
}
