package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** The SQL-over-catalog surface: DSv2 catalog + post-hoc resolution
  * bridge. Contracts under test:
  *
  *   - catalog DDL (CREATE/DROP/RENAME TABLE, namespaces) maps
  *     identifiers to snapshot directories;
  *   - reads compile to the NATIVE parquet scan (no DSv2 BatchScan,
  *     no row conversion) with filters pushed to the file scan;
  *   - time travel via VERSION AS OF / TIMESTAMP AS OF;
  *   - INSERT INTO/OVERWRITE route through append/overwrite;
  *   - MERGE/DELETE/UPDATE route to the snapshot DML machinery and
  *     hash-match their Scala-API twins;
  *   - Scala API and SQL address the same bytes (interop both ways).
  */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_sql_wh").toFile.toString
    spark.conf.set("spark.sql.catalog.gs", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gs.warehouse", w)
    w
  }

  private def dirOf(ns: String, t: String) = s"$warehouse/$ns/$t"

  test("CREATE TABLE + INSERT INTO + SELECT round-trip") {
    warehouse
    spark.sql("CREATE TABLE gs.default.rt (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.rt VALUES (1, 2.0), (2, 3.0)")
    assert(spark.sql("SELECT * FROM gs.default.rt ORDER BY id")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 2.0), (2L, 3.0)))
    // the same bytes through the Scala API
    assert(Snapshots.read(spark, dirOf("default", "rt")).count() == 2)
  }

  test("reads compile to the native parquet scan, not a DSv2 row scan") {
    warehouse
    spark.sql("CREATE TABLE gs.default.plan_t (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.plan_t SELECT id, id * 1.0 FROM range(100)")
    val df = spark.sql("SELECT id FROM gs.default.plan_t WHERE id = 7")
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("FileScan parquet"), phys)
    assert(!phys.contains("BatchScan"), phys)
    assert(!phys.contains("RowToColumnar"), phys)
    // the filter reached the parquet scan
    assert(phys.contains("PushedFilters") &&
      phys.replaceAll("\\s", "").contains("EqualTo(id,7)"), phys)
    assert(df.as[Long].collect().toSeq == Seq(7L))
  }

  test("VERSION AS OF and TIMESTAMP AS OF") {
    warehouse
    spark.sql("CREATE TABLE gs.default.tt (id BIGINT)")
    spark.sql("INSERT INTO gs.default.tt VALUES (1)") // v2
    val between = System.currentTimeMillis()
    Thread.sleep(20)
    spark.sql("INSERT INTO gs.default.tt VALUES (2)") // v3
    assert(spark.sql("SELECT count(*) FROM gs.default.tt").head().getLong(0) == 2)
    assert(spark.sql("SELECT count(*) FROM gs.default.tt VERSION AS OF 2")
      .head().getLong(0) == 1)
    val ts = new java.sql.Timestamp(between).toString
    assert(spark.sql(
      s"SELECT count(*) FROM gs.default.tt TIMESTAMP AS OF '$ts'")
      .head().getLong(0) == 1)
    intercept[Exception] {
      spark.sql("SELECT * FROM gs.default.tt VERSION AS OF 99").collect()
    }
  }

  test("INSERT OVERWRITE replaces content") {
    warehouse
    spark.sql("CREATE TABLE gs.default.ow (id BIGINT)")
    spark.sql("INSERT INTO gs.default.ow VALUES (1), (2)")
    spark.sql("INSERT OVERWRITE gs.default.ow VALUES (9)")
    assert(spark.sql("SELECT id FROM gs.default.ow").as[Long]
      .collect().toSeq == Seq(9L))
  }

  test("DELETE FROM matches the Scala-API deleteWhere") {
    warehouse
    spark.sql("CREATE TABLE gs.default.del_sql (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.del_sql SELECT id, id*1.0 FROM range(20)")
    // twin table through the Scala API
    val twin = Files.createTempDirectory("graft_twin").toFile.toString + "/t"
    Snapshots.append(spark.range(20).select(col("id"), (col("id") * 1.0).as("v")), twin)
    spark.sql("DELETE FROM gs.default.del_sql WHERE id < 5 OR v > 15.0")
    Snapshots.deleteWhere(spark, twin, col("id") < 5 || col("v") > 15.0)
    val got = spark.sql("SELECT * FROM gs.default.del_sql ORDER BY id").collect()
    val want = Snapshots.read(spark, twin).orderBy("id").collect()
    assert(got.toSeq == want.toSeq)
    assert(Snapshots.history(spark, dirOf("default", "del_sql"))
      .head().getString(2) == "delete")
  }

  test("UPDATE matches the Scala-API updateWhere") {
    warehouse
    spark.sql("CREATE TABLE gs.default.upd_sql (id BIGINT, v DOUBLE, tag STRING)")
    spark.sql("INSERT INTO gs.default.upd_sql " +
      "SELECT id, id*1.0, concat('s', id) FROM range(10)")
    spark.sql("UPDATE gs.default.upd_sql SET v = v * 100, tag = 'hit' WHERE id <= 3")
    val got = spark.sql("SELECT * FROM gs.default.upd_sql ORDER BY id")
      .as[(Long, Double, String)].collect()
    assert(got.take(4).forall(r => r._2 == r._1 * 100.0 && r._3 == "hit"))
    assert(got.drop(4).forall(r => r._2 == r._1 * 1.0 && r._3 == s"s${r._1}"))
    assert(Snapshots.history(spark, dirOf("default", "upd_sql"))
      .head().getString(2) == "update")
  }

  test("MERGE INTO upsert matches the Scala-API merge") {
    warehouse
    spark.sql("CREATE TABLE gs.default.mrg (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.mrg SELECT id, id*1.0 FROM range(10)")
    Seq((5L, 555.0), (6L, 666.0), (20L, 200.0)).toDF("id", "v")
      .createOrReplaceTempView("mrg_src")
    spark.sql("""MERGE INTO gs.default.mrg t USING mrg_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val twin = Files.createTempDirectory("graft_twin2").toFile.toString + "/t"
    Snapshots.append(spark.range(10).select(col("id"), (col("id") * 1.0).as("v")), twin)
    Snapshots.merge(spark, twin,
      Seq((5L, 555.0), (6L, 666.0), (20L, 200.0)).toDF("id", "v"), Seq("id"))
    assert(spark.sql("SELECT * FROM gs.default.mrg ORDER BY id").collect().toSeq ==
      Snapshots.read(spark, twin).orderBy("id").collect().toSeq)
  }

  test("MERGE with explicit renamed-source assignments") {
    warehouse
    spark.sql("CREATE TABLE gs.default.mrg2 (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.mrg2 VALUES (1, 1.0), (2, 2.0)")
    Seq((2L, 22.0), (3L, 33.0)).toDF("key", "value")
      .createOrReplaceTempView("mrg2_src")
    spark.sql("""MERGE INTO gs.default.mrg2 t USING mrg2_src s ON t.id = s.key
      WHEN MATCHED THEN UPDATE SET v = s.value
      WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.key, s.value)""")
    assert(spark.sql("SELECT * FROM gs.default.mrg2 ORDER BY id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 1.0), (2L, 22.0), (3L, 33.0)))
  }

  test("MERGE WHEN MATCHED THEN DELETE applies CDC tombstones") {
    warehouse
    spark.sql("CREATE TABLE gs.default.mrgd (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.mrgd SELECT id, id*1.0 FROM range(20)")
    // tombstones: some matching keys, one non-matching (no-op)
    Seq(3L, 7L, 11L, 99L).toDF("id").createOrReplaceTempView("mrgd_ts")
    spark.sql("""MERGE INTO gs.default.mrgd t USING mrgd_ts s ON t.id = s.id
      WHEN MATCHED THEN DELETE""")
    assert(spark.sql("SELECT id FROM gs.default.mrgd ORDER BY id")
      .as[Long].collect().toSeq ==
      (0L until 20L).filterNot(Set(3L, 7L, 11L)))
    assert(Snapshots.history(spark, dirOf("default", "mrgd"))
      .head().getString(2) == "merge-delete")
  }

  test("unsupported MERGE shapes refuse loudly") {
    warehouse
    spark.sql("CREATE TABLE gs.default.mrg3 (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.mrg3 VALUES (1, 1.0)")
    Seq((1L, 9.0)).toDF("id", "v").createOrReplaceTempView("mrg3_src")
    // non-equality ON term
    val e = intercept[Exception] {
      spark.sql("""MERGE INTO gs.default.mrg3 t USING mrg3_src s ON t.id > s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(e.getMessage.contains("column equality"))
    // a BY SOURCE guard may not read the (absent) source side
    val e2 = intercept[Exception] {
      spark.sql("""MERGE INTO gs.default.mrg3 t USING mrg3_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED BY SOURCE AND s.v > 0 THEN DELETE""")
    }
    assert(e2.getMessage.contains("sees only the target"))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE updates and deletes " +
      "target-only rows in the same atomic commit") {
    warehouse
    spark.sql("CREATE TABLE gs.default.mrgns (id BIGINT, v DOUBLE, tag STRING)")
    spark.sql("INSERT INTO gs.default.mrgns " +
      "SELECT id, id * 1.0, 'old' FROM range(10)")
    // source covers ids 4..7 (matched) and brings 10, 11 (not matched);
    // ids 0..3, 8, 9 are NOT MATCHED BY SOURCE
    spark.sql("""SELECT id, id * 10.0 AS nv FROM range(4, 8)
      UNION ALL SELECT id, id * 10.0 FROM range(10, 12)""")
      .createOrReplaceTempView("mrgns_src")
    spark.sql("""MERGE INTO gs.default.mrgns t USING mrgns_src s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET v = s.nv, tag = 'upd'
      WHEN NOT MATCHED THEN INSERT (id, v, tag) VALUES (s.id, s.nv, 'new')
      WHEN NOT MATCHED BY SOURCE AND t.id >= 8 THEN DELETE
      WHEN NOT MATCHED BY SOURCE AND t.v > 1.0 THEN
        UPDATE SET tag = 'stale'""")
    val got = spark.sql("SELECT id, v, tag FROM gs.default.mrgns ORDER BY id")
      .as[(Long, Double, String)].collect().toSeq
    // 8, 9 deleted (first BY SOURCE clause wins); 2, 3 marked stale
    // (second clause); 0, 1 fail both guards → untouched
    val want = Seq(
      (0L, 0.0, "old"), (1L, 1.0, "old"),
      (2L, 2.0, "stale"), (3L, 3.0, "stale"),
      (4L, 40.0, "upd"), (5L, 50.0, "upd"), (6L, 60.0, "upd"),
      (7L, 70.0, "upd"),
      (10L, 100.0, "new"), (11L, 110.0, "new"))
    assert(got == want)
    // updates + deletes landed as ONE commit
    val hist = Snapshots.history(spark, dirOf("default", "mrgns"))
      .select("version", "operation").as[(Int, String)].collect().toMap
    assert(hist(3) == "merge-mixed")
    assert(hist.size == 3)
    // pure BY-SOURCE retention sweep: no matched/not-matched actions
    // at all — everything the source doesn't vouch for goes
    spark.sql("SELECT id FROM range(4, 8) UNION ALL SELECT 10")
      .createOrReplaceTempView("mrgns_keep")
    spark.sql("""MERGE INTO gs.default.mrgns t USING mrgns_keep s
      ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(spark.sql("SELECT id FROM gs.default.mrgns ORDER BY id")
      .as[Long].collect().toSeq == Seq(4L, 5L, 6L, 7L, 10L))
  }

  test("conditional and mixed MERGE actions classify and compose") {
    warehouse
    spark.sql("CREATE TABLE gs.default.mrgc (id BIGINT, v DOUBLE, tag STRING)")
    spark.sql("INSERT INTO gs.default.mrgc " +
      "SELECT id, id * 1.0, 'old' FROM range(10)")
    // source overlaps ids 3..9 (matched) and brings 10..12 (not matched)
    spark.sql("SELECT id, id * 100.0 AS nv FROM range(3, 13)")
      .createOrReplaceTempView("mrgc_src")
    spark.sql("""MERGE INTO gs.default.mrgc t USING mrgc_src s
      ON t.id = s.id
      WHEN MATCHED AND s.nv >= 800.0 THEN DELETE
      WHEN MATCHED AND t.v < 4.0 THEN UPDATE SET v = t.v + s.nv, tag = 'upd'
      WHEN NOT MATCHED AND s.nv < 1200.0 THEN
        INSERT (id, v, tag) VALUES (s.id, s.nv, 'new')""")
    val got = spark.sql("SELECT id, v, tag FROM gs.default.mrgc ORDER BY id")
      .as[(Long, Double, String)].collect().toSeq
    // ids 8,9 deleted (nv 800,900); id 3 updated (t.v=3.0 < 4.0, first
    // matching clause after the DELETE guard fails); ids 4..7 matched
    // but fail every guard → untouched; ids 10,11 inserted (nv < 1200);
    // id 12 fails the insert guard → not inserted
    val want = Seq(
      (0L, 0.0, "old"), (1L, 1.0, "old"), (2L, 2.0, "old"),
      (3L, 303.0, "upd"),
      (4L, 4.0, "old"), (5L, 5.0, "old"), (6L, 6.0, "old"),
      (7L, 7.0, "old"),
      (10L, 1000.0, "new"), (11L, 1100.0, "new"))
    assert(got == want)
    // deletes + upserts landed as ONE atomic commit, not a
    // delete-then-merge pair with a crash window between them
    val hist = Snapshots.history(spark, dirOf("default", "mrgc"))
      .select("version", "operation")
      .as[(Int, String)].collect().toMap
    assert(hist(3) == "merge-mixed") // create=1, insert=2, merge=3
    assert(hist.size == 3)
    // UPDATE-only conditional merge (no INSERT action at all)
    spark.sql("""MERGE INTO gs.default.mrgc t USING mrgc_src s
      ON t.id = s.id
      WHEN MATCHED AND t.tag = 'upd' THEN UPDATE SET tag = 'upd2'""")
    assert(spark.sql(
      "SELECT count(*) FROM gs.default.mrgc WHERE tag = 'upd2'")
      .head().getLong(0) == 1)
  }

  test("conditional MERGE past the 1024-literal pruning cap (range fallback) keeps exact semantics") {
    // >1024 distinct source keys: the classification pruning degrades
    // from an IN-literal filter to the keys' [min, max] range — the
    // range covers non-matching target rows (2000..2499), which must
    // classify as untouched, and target rows BELOW the range (0..499)
    // are pruned before the join, which must not lose them
    warehouse
    spark.sql("CREATE TABLE gs.default.mrgcap (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.mrgcap " +
      "SELECT id, id * 1.0 FROM range(2500)")
    // 1500 source keys at 500..1999 (past the cap), plus 3000..3004 new
    spark.sql("""SELECT id, id * 10.0 AS nv FROM range(500, 2000)
      UNION ALL SELECT id, id * 10.0 FROM range(3000, 3005)""")
      .createOrReplaceTempView("mrgcap_src")
    spark.sql("""MERGE INTO gs.default.mrgcap t USING mrgcap_src s
      ON t.id = s.id
      WHEN MATCHED AND s.nv >= 19000.0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.nv
      WHEN NOT MATCHED AND s.id < 3003 THEN
        INSERT (id, v) VALUES (s.id, s.nv)""")
    val got = spark.sql("SELECT id, v FROM gs.default.mrgcap ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    val want =
      ((0L until 500L).map(i => (i, i * 1.0)) ++        // below range: kept
        (500L until 1900L).map(i => (i, i * 10.0)) ++   // updated
        // 1900..1999 deleted (nv >= 19000)
        (2000L until 2500L).map(i => (i, i * 1.0)) ++   // in range, unmatched
        (3000L until 3003L).map(i => (i, i * 10.0))).sorted // guarded insert
    assert(got == want)
  }

  test("DELETE WHERE k IN (subquery) is a distributed tombstone delete") {
    warehouse
    spark.sql("CREATE TABLE gs.default.dsub (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.dsub SELECT id, id*1.0 FROM range(100)")
    spark.sql("CREATE TABLE gs.default.dsub_keys AS " +
      "SELECT id * 3 AS kid FROM range(34)")
    spark.sql("""DELETE FROM gs.default.dsub
      WHERE id IN (SELECT kid FROM gs.default.dsub_keys)""")
    // the pure IN-subquery shape routes to deleteMatching — visible in
    // history as the tombstone op, not a predicate delete
    assert(Snapshots.history(spark, dirOf("default", "dsub"))
      .head().getString(2) == "merge-delete")
    assert(spark.sql("SELECT id FROM gs.default.dsub ORDER BY id")
      .as[Long].collect().toSeq == (0L until 100L).filterNot(_ % 3 == 0))
    // composite-key IN subquery is the same distributed path:
    // kid+1 hits the ids congruent to 1 mod 3 (all still present)
    spark.sql("""DELETE FROM gs.default.dsub WHERE (id, v) IN (
      SELECT kid + 1, (kid + 1) * 1.0 FROM gs.default.dsub_keys)""")
    assert(Snapshots.history(spark, dirOf("default", "dsub"))
      .head().getString(2) == "merge-delete")
    assert(spark.sql("SELECT id FROM gs.default.dsub ORDER BY id")
      .as[Long].collect().toSeq ==
      (0L until 100L).filter(_ % 3 == 2))
  }

  test("NOT IN, EXISTS, and scalar subqueries evaluate with SQL " +
      "three-valued logic") {
    warehouse
    spark.sql("CREATE TABLE gs.default.dsub2 (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.dsub2 SELECT id, id*1.0 FROM range(10)")
    // NOT IN over a null-bearing subquery deletes NOTHING (3VL)
    Seq(Some(1L), None).toDF("kid").createOrReplaceTempView("dsub2_null")
    spark.sql("""DELETE FROM gs.default.dsub2
      WHERE id NOT IN (SELECT kid FROM dsub2_null)""")
    assert(spark.sql("SELECT count(*) FROM gs.default.dsub2")
      .head().getLong(0) == 10)
    // NOT IN over a clean subquery deletes the complement
    Seq(1L, 3L, 5L, 7L, 9L).toDF("kid").createOrReplaceTempView("dsub2_odd")
    spark.sql("""DELETE FROM gs.default.dsub2
      WHERE id NOT IN (SELECT kid FROM dsub2_odd)""")
    assert(spark.sql("SELECT id FROM gs.default.dsub2 ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L, 5L, 7L, 9L))
    // scalar subquery in UPDATE predicate and assignment
    spark.sql("""UPDATE gs.default.dsub2
      SET v = v + (SELECT max(kid) * 1.0 FROM dsub2_odd)
      WHERE id > (SELECT min(kid) FROM dsub2_odd)""")
    assert(spark.sql("SELECT v FROM gs.default.dsub2 WHERE id = 3")
      .head().getDouble(0) == 12.0)
    assert(spark.sql("SELECT v FROM gs.default.dsub2 WHERE id = 1")
      .head().getDouble(0) == 1.0)
    // IN-subquery among conjuncts (not the pure shape) also works
    spark.sql("""DELETE FROM gs.default.dsub2
      WHERE id IN (SELECT kid FROM dsub2_odd) AND v > 15.0""")
    assert(spark.sql("SELECT id FROM gs.default.dsub2 ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 3L, 5L))
    // correlated-equality EXISTS UPDATE: the distributed key-frame
    // update (updateMatching) — every surviving row's id is a kid
    spark.sql("""UPDATE gs.default.dsub2 SET v = 0.0 WHERE EXISTS (
      SELECT 1 FROM dsub2_odd o WHERE o.kid = id AND o.kid < 5)""")
    assert(spark.sql("SELECT id, v FROM gs.default.dsub2 ORDER BY id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 0.0), (3L, 0.0), (5L, 14.0)))
    assert(Snapshots.history(spark, dirOf("default", "dsub2"))
      .head().getString(2) == "update")
    // non-equality correlation still refuses loudly
    val e = intercept[Exception] {
      spark.sql("""UPDATE gs.default.dsub2 SET v = 0.0 WHERE EXISTS (
        SELECT 1 FROM dsub2_odd o WHERE o.kid > id)""")
    }
    assert(e.getMessage.contains("column equalities"), e.getMessage)
  }

  test("correlated-equality EXISTS/IN DELETE runs as a distributed " +
      "key-frame delete") {
    warehouse
    spark.sql("CREATE TABLE gs.default.dcor (id BIGINT, grp BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.dcor " +
      "SELECT id, id % 3, id * 1.0 FROM range(30)")
    spark.sql("SELECT id * 2 AS rid, id % 3 AS rgrp FROM range(15)")
      .createOrReplaceTempView("dcor_src")
    // composite equality correlation + an inner-only residual
    // predicate; EXISTS = semi-join = deleteMatching's tombstone op
    spark.sql("""DELETE FROM gs.default.dcor t WHERE EXISTS (
      SELECT 1 FROM dcor_src s
      WHERE s.rid = t.id AND s.rgrp = t.grp AND s.rid < 20)""")
    assert(Snapshots.history(spark, dirOf("default", "dcor"))
      .head().getString(2) == "merge-delete")
    val gone = (0L until 15L).map(i => (i * 2, i % 3))
      .filter { case (rid, rgrp) => rid < 20 && rid % 3 == rgrp }
      .map(_._1).toSet
    assert(spark.sql("SELECT id FROM gs.default.dcor ORDER BY id")
      .as[Long].collect().toSeq == (0L until 30L).filterNot(gone))
    // correlated IN: the SELECT-list value pairs with the IN column,
    // the correlation equality joins the key set
    val before = spark.sql("SELECT id FROM gs.default.dcor")
      .as[Long].collect().toSet
    spark.sql("""DELETE FROM gs.default.dcor t WHERE id IN (
      SELECT s.rid + 1 FROM dcor_src s WHERE s.rgrp = t.grp)""")
    val goneIn = (0L until 30L).filter { id =>
      before(id) && (0L until 15L).exists(i =>
        i * 2 + 1 == id && i % 3 == id % 3)
    }.toSet
    assert(spark.sql("SELECT id FROM gs.default.dcor ORDER BY id")
      .as[Long].collect().toSeq ==
      (0L until 30L).filter(i => before(i) && !goneIn(i)))
    // non-equality correlation refuses with the shape named
    val e = intercept[Exception] {
      spark.sql("""DELETE FROM gs.default.dcor t WHERE EXISTS (
        SELECT 1 FROM dcor_src s WHERE s.rid > t.id)""")
    }
    assert(e.getMessage.contains("column equalities"))
    // NOT EXISTS — the retention sweep: rows with no matching rid
    // delete via the distributed ANTI key frame
    val beforeNe = spark.sql("SELECT id FROM gs.default.dcor")
      .as[Long].collect().toSet
    spark.sql("""DELETE FROM gs.default.dcor t WHERE NOT EXISTS (
      SELECT 1 FROM dcor_src s WHERE s.rid = t.id)""")
    assert(Snapshots.history(spark, dirOf("default", "dcor"))
      .head().getString(2) == "merge-delete")
    val rids = (0L until 15L).map(_ * 2).toSet
    assert(spark.sql("SELECT id FROM gs.default.dcor ORDER BY id")
      .as[Long].collect().toSeq ==
      (0L until 30L).filter(i => beforeNe(i) && rids(i)))
    // correlated NOT IN: the comparison set is PER correlation key
    // (grp) — delete rows whose id is absent from their group's rids
    val beforeNi = spark.sql("SELECT id FROM gs.default.dcor")
      .as[Long].collect().toSet
    spark.sql("""DELETE FROM gs.default.dcor t WHERE id NOT IN (
      SELECT s.rid FROM dcor_src s WHERE s.rgrp = t.grp)""")
    val keptNi = (0L until 30L).filter { id =>
      beforeNi(id) && (0L until 15L).exists(i =>
        i % 3 == id % 3 && i * 2 == id)
    }
    assert(spark.sql("SELECT id FROM gs.default.dcor ORDER BY id")
      .as[Long].collect().toSeq == keptNi)
  }

  test("NOT EXISTS refuses NULL correlation keys; NOT IN handles " +
      "the empty and null-keyed sets exactly") {
    warehouse
    spark.sql("CREATE TABLE gs.default.dneg (id BIGINT, v DOUBLE)")
    spark.sql("""INSERT INTO gs.default.dneg
      SELECT CASE WHEN id = 7 THEN NULL ELSE id END, id * 1.0
      FROM range(10)""")
    spark.sql("SELECT id * 2 AS rid FROM range(10)")
      .createOrReplaceTempView("dneg_src")
    // a NULL-keyed target row satisfies NOT EXISTS but key-addressed
    // DML cannot delete it — loud refusal with the remedy named
    val e = intercept[Exception] {
      spark.sql("""DELETE FROM gs.default.dneg t WHERE NOT EXISTS (
        SELECT 1 FROM dneg_src s WHERE s.rid = t.id)""")
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    spark.sql("DELETE FROM gs.default.dneg WHERE id IS NULL")
    spark.sql("""DELETE FROM gs.default.dneg t WHERE NOT EXISTS (
      SELECT 1 FROM dneg_src s WHERE s.rid = t.id)""")
    assert(spark.sql("SELECT id FROM gs.default.dneg ORDER BY id")
      .as[Long].collect().toSeq == Seq(0L, 2L, 4L, 6L, 8L))
    // NOT IN over an EMPTY subquery is TRUE for every row: the
    // statement truncates the table (predicate delete, no keys)
    spark.sql("""DELETE FROM gs.default.dneg
      WHERE id NOT IN (SELECT rid FROM dneg_src WHERE rid < 0)""")
    assert(spark.sql("SELECT count(*) FROM gs.default.dneg")
      .head().getLong(0) == 0)
  }

  test("UPDATE WHERE NOT EXISTS / NOT IN route to the distributed " +
      "anti key-frame update") {
    warehouse
    spark.sql("CREATE TABLE gs.default.ucor (id BIGINT, grp BIGINT, v DOUBLE)")
    spark.sql("""INSERT INTO gs.default.ucor
      SELECT id, id % 3, id * 1.0 FROM range(30)""")
    spark.sql("SELECT id * 2 AS rid, id % 3 AS rgrp FROM range(15)")
      .createOrReplaceTempView("ucor_src")
    // NOT EXISTS — "touch up every row with NO match": odd ids have
    // no rid and get the flag
    spark.sql("""UPDATE gs.default.ucor t SET v = -1.0 WHERE NOT EXISTS (
      SELECT 1 FROM ucor_src s WHERE s.rid = t.id)""")
    val rids = (0L until 15L).map(_ * 2).toSet
    assert(spark.sql("SELECT id FROM gs.default.ucor WHERE v = -1.0")
      .as[Long].collect().toSet == (0L until 30L).filterNot(rids).toSet)
    // correlated NOT IN: the comparison set is PER correlation key
    // (grp) — update rows whose id is absent from their group's rids
    spark.sql("""UPDATE gs.default.ucor t SET v = -2.0 WHERE id NOT IN (
      SELECT s.rid FROM ucor_src s WHERE s.rgrp = t.grp)""")
    val keptNi = (0L until 30L).filter { id =>
      (0L until 15L).exists(i => i % 3 == id % 3 && i * 2 == id)
    }.toSet
    assert(spark.sql("SELECT id FROM gs.default.ucor WHERE v = -2.0")
      .as[Long].collect().toSet == (0L until 30L).filterNot(keptNi).toSet)
    // uncorrelated NOT IN, clean subquery: complement update
    spark.sql("""UPDATE gs.default.ucor SET v = -3.0
      WHERE id NOT IN (SELECT rid FROM ucor_src WHERE rid <= 10)""")
    assert(spark.sql("SELECT id FROM gs.default.ucor WHERE v = -3.0")
      .as[Long].collect().toSet ==
      (0L until 30L).filterNot(Set(0L, 2L, 4L, 6L, 8L, 10L)).toSet)
    // a NULL in the subquery: no row's NOT IN is TRUE — a no-op that
    // commits nothing (version unchanged)
    val vBefore = Snapshots.versions(spark, dirOf("default", "ucor")).max
    spark.sql("""SELECT CASE WHEN id = 3 THEN NULL ELSE id END AS nid
      FROM range(5)""").createOrReplaceTempView("ucor_null")
    spark.sql("""UPDATE gs.default.ucor SET v = -4.0
      WHERE id NOT IN (SELECT nid FROM ucor_null)""")
    assert(spark.sql("SELECT count(*) FROM gs.default.ucor WHERE v = -4.0")
      .head().getLong(0) == 0)
    assert(Snapshots.versions(spark, dirOf("default", "ucor")).max ==
      vBefore)
    // NOT IN over an EMPTY subquery is TRUE for every row — the
    // predicate update, no keys involved
    spark.sql("""UPDATE gs.default.ucor SET v = -5.0
      WHERE id NOT IN (SELECT rid FROM ucor_src WHERE rid < 0)""")
    assert(spark.sql("SELECT count(*) FROM gs.default.ucor WHERE v = -5.0")
      .head().getLong(0) == 30)
    // non-equality correlation refuses with the anti shape named
    val e = intercept[Exception] {
      spark.sql("""UPDATE gs.default.ucor t SET v = 0.0 WHERE NOT EXISTS (
        SELECT 1 FROM ucor_src s WHERE s.rid > t.id)""")
    }
    assert(e.getMessage.contains("column equalities"), e.getMessage)
    // a correlated subquery among other conjuncts refuses with UPDATE's
    // own remedy named
    val ec = intercept[Exception] {
      spark.sql("""UPDATE gs.default.ucor t SET v = 0.0 WHERE v > 0 AND
        EXISTS (SELECT 1 FROM ucor_src s WHERE s.rid = t.id)""")
    }
    assert(ec.getMessage.contains("UPDATE supports a standing-alone") &&
      !ec.getMessage.contains("DELETE"), ec.getMessage)
    // standing-alone uncorrelated IN, single key: the subquery is the
    // distributed key frame
    spark.sql("""UPDATE gs.default.ucor SET v = -6.0
      WHERE id IN (SELECT rid FROM ucor_src WHERE rid < 8)""")
    assert(spark.sql("SELECT id FROM gs.default.ucor WHERE v = -6.0")
      .as[Long].collect().toSet == Set(0L, 2L, 4L, 6L))
    // ... and a composite key: (id, grp) pairs with (rid, rgrp)
    spark.sql("""UPDATE gs.default.ucor SET v = -7.0
      WHERE (id, grp) IN (SELECT rid, rgrp FROM ucor_src)""")
    assert(spark.sql("SELECT id FROM gs.default.ucor WHERE v = -7.0")
      .as[Long].collect().toSet ==
      (0L until 15L).filter(i => (i * 2) % 3 == i % 3).map(_ * 2).toSet)
    // correlated IN: the SELECT-list value pairs with the IN column,
    // the correlation equality joins the key set
    spark.sql("""UPDATE gs.default.ucor t SET v = -8.0 WHERE id IN (
      SELECT s.rid + 1 FROM ucor_src s WHERE s.rgrp = t.grp)""")
    assert(spark.sql("SELECT id FROM gs.default.ucor WHERE v = -8.0")
      .as[Long].collect().toSet ==
      (0L until 15L).filter(i => (i * 2 + 1) % 3 == i % 3)
        .map(_ * 2 + 1).toSet)
  }

  test("UPDATE NOT EXISTS refuses NULL correlation keys loudly") {
    warehouse
    spark.sql("CREATE TABLE gs.default.uneg (id BIGINT, v DOUBLE)")
    spark.sql("""INSERT INTO gs.default.uneg
      SELECT CASE WHEN id = 7 THEN NULL ELSE id END, id * 1.0
      FROM range(10)""")
    spark.sql("SELECT id * 2 AS rid FROM range(10)")
      .createOrReplaceTempView("uneg_src")
    // a NULL-keyed target row satisfies NOT EXISTS but key-addressed
    // DML cannot update it — loud refusal with the remedy named
    val e = intercept[Exception] {
      spark.sql("""UPDATE gs.default.uneg t SET v = -1.0 WHERE NOT EXISTS (
        SELECT 1 FROM uneg_src s WHERE s.rid = t.id)""")
    }
    assert(e.getMessage.contains("NULL"), e.getMessage)
    spark.sql("DELETE FROM gs.default.uneg WHERE id IS NULL")
    spark.sql("""UPDATE gs.default.uneg t SET v = -1.0 WHERE NOT EXISTS (
      SELECT 1 FROM uneg_src s WHERE s.rid = t.id)""")
    assert(spark.sql("SELECT id FROM gs.default.uneg WHERE v = -1.0")
      .as[Long].collect().toSet == Set(1L, 3L, 5L, 9L))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens the schema metadata-only") {
    warehouse
    spark.sql("CREATE TABLE gs.default.mse (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.mse VALUES (1, 1.0), (2, 2.0)")
    Seq((2L, 20.0, "x"), (3L, 30.0, "y")).toDF("id", "v", "tag")
      .createOrReplaceTempView("mse_src")
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO gs.default.mse t
      USING mse_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    // new column landed; pre-evolution rows read NULL
    assert(spark.sql("SELECT id, v, tag FROM gs.default.mse ORDER BY id")
      .as[(Long, Double, Option[String])].collect().toSeq == Seq(
        (1L, 1.0, None), (2L, 20.0, Some("x")), (3L, 30.0, Some("y"))))
    // the evolution is its own metadata-only add-column commit
    // (Spark's rule applies it through GraftCatalog.alterTable at
    // analysis), then the merge commits
    val ops = Snapshots.history(spark, dirOf("default", "mse"))
      .select("operation").as[String].collect().toSeq
    assert(ops.contains("add-column"))
    // time travel keeps the pre-evolution shape
    assert(spark.sql(
      "SELECT * FROM gs.default.mse VERSION AS OF 2").columns.toSeq ==
      Seq("id", "v"))
    // WITHOUT the keyword a wider source does NOT evolve: star means
    // "all target columns" (standard SQL), extra source columns are
    // simply unused
    spark.sql("""MERGE INTO gs.default.mse t
      USING (SELECT id, v, tag, 1 AS extra FROM mse_src) s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(spark.table("gs.default.mse").columns.toSeq ==
      Seq("id", "v", "tag"))
  }

  test("path-based reader resolves catalog tables via option(\"table\")") {
    warehouse
    spark.sql("CREATE TABLE gs.default.byname (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.byname SELECT id, id*1.0 FROM range(5)")
    spark.sql("DELETE FROM gs.default.byname WHERE id = 2")
    // plain batch read by NAME — no warehouse-layout dereference
    assert(spark.read.format("graft-snapshots")
      .option("table", "gs.default.byname").load()
      .select("id").as[Long].collect().toSet == Set(0L, 1L, 3L, 4L))
    // batch change feed by name: the CDC catch-up surface
    val feed = spark.read.format("graft-snapshots")
      .option("table", "gs.default.byname")
      .option("readChangeFeed", "true").option("startingVersion", 3)
      .load().select("_change_type", "id")
      .as[(String, Long)].collect().toSet
    assert(feed == Set(("delete", 2L)))
    // path and table are mutually exclusive; unknown tables are loud
    intercept[IllegalArgumentException] {
      spark.read.format("graft-snapshots")
        .option("table", "gs.default.byname")
        .option("path", "/tmp/x").load()
    }
    intercept[Exception] {
      spark.read.format("graft-snapshots")
        .option("table", "gs.default.no_such_table").load().count()
    }
  }

  test("deletion-vector mode: DELETE commits a vector, no rewrite") {
    warehouse
    spark.sql("CREATE TABLE gs.default.dvm (id BIGINT)")
    spark.sql("INSERT INTO gs.default.dvm SELECT id FROM range(50)")
    spark.sql("ALTER TABLE gs.default.dvm " +
      "SET TBLPROPERTIES ('dml.mode' = 'merge-on-read')")
    spark.sql("DELETE FROM gs.default.dvm WHERE id = 13")
    assert(Snapshots.history(spark, dirOf("default", "dvm"))
      .head().getString(2) == "delete-light")
    assert(spark.sql("SELECT count(*) FROM gs.default.dvm")
      .head().getLong(0) == 49)
    // UPDATE routes to the vector path too
    spark.sql("UPDATE gs.default.dvm SET id = id + 1000 WHERE id = 17")
    assert(Snapshots.history(spark, dirOf("default", "dvm"))
      .head().getString(2) == "update-light")
    assert(spark.sql(
      "SELECT count(*) FROM gs.default.dvm WHERE id = 1017")
      .head().getLong(0) == 1)
    assert(spark.sql("SELECT count(*) FROM gs.default.dvm")
      .head().getLong(0) == 49)
  }

  test("the table's dml.mode picks the SQL DML path in any session") {
    warehouse
    def files(t: String): Set[String] =
      Snapshots.read(spark, dirOf("default", t)).inputFiles.toSet
    def lastOp(t: String): String =
      Snapshots.history(spark, dirOf("default", t)).head().getString(2)
    Seq("mor" -> true, "cow" -> false).foreach { case (t, mor) =>
      spark.sql(s"DROP TABLE IF EXISTS gs.default.$t")
      spark.sql(s"CREATE TABLE gs.default.$t (id BIGINT, v DOUBLE)" +
        (if (mor) " TBLPROPERTIES ('dml.mode' = 'merge-on-read')" else ""))
      spark.sql(s"INSERT INTO gs.default.$t " +
        "SELECT id, id * 1.0 FROM range(40)")
    }
    // a fresh session: its own conf, holding nothing but the catalog
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gs", "graft.sql.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gs.warehouse", warehouse)
    s2.range(5).select(col("id").plus(100L).as("id"),
      col("id").cast("double").as("v")).union(
      s2.range(5).select(col("id"), lit(-1.0).as("v")))
      .createOrReplaceTempView("dml_mode_src")
    val stmts = Seq(
      "delete" -> "DELETE FROM gs.default.%s WHERE id = 13",
      "update" -> "UPDATE gs.default.%s SET v = -v WHERE id = 17",
      "merge" -> ("MERGE INTO gs.default.%s t USING " +
        "dml_mode_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    Seq("mor" -> true, "cow" -> false).foreach { case (t, mor) =>
      stmts.foreach { case (op, sql) =>
        val before = files(t)
        s2.sql(sql.format(t))
        val after = files(t)
        if (mor) {
          assert(lastOp(t) == s"$op-light", s"$t $op")
          assert(before.subsetOf(after), s"$t $op rewrote a data file")
        } else {
          assert(lastOp(t) == op, s"$t $op")
          assert(!before.subsetOf(after), s"$t $op rewrote nothing")
        }
      }
      // both paths land the same rows
      assert(spark.sql(s"SELECT id, v FROM gs.default.$t ORDER BY id")
        .as[(Long, Double)].collect().toSeq ==
        ((0L until 40L).filterNot(_ == 13L).map(i =>
          (i, if (i < 5L) -1.0 else if (i == 17L) -17.0 else i * 1.0)) ++
          (100L until 105L).map(i => (i, (i - 100L).toDouble))), t)
    }
  }

  test("DML refuses a VERSION AS OF pinned target") {
    warehouse
    spark.sql("CREATE TABLE gs.default.pin (id BIGINT)")
    spark.sql("INSERT INTO gs.default.pin VALUES (1)")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM gs.default.pin VERSION AS OF 1 WHERE id = 1")
    }
    assert(e.getMessage.toLowerCase.contains("version") ||
      e.getMessage.toLowerCase.contains("time travel"))
  }

  test("ALTER TABLE RENAME/DROP COLUMN are metadata-only and readable") {
    warehouse
    spark.sql("CREATE TABLE gs.default.alt (id BIGINT, v DOUBLE, junk STRING)")
    spark.sql("INSERT INTO gs.default.alt VALUES (1, 2.0, 'x')")
    spark.sql("ALTER TABLE gs.default.alt RENAME COLUMN v TO val")
    spark.sql("ALTER TABLE gs.default.alt DROP COLUMN junk")
    assert(spark.sql("SELECT id, val FROM gs.default.alt")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 2.0)))
    assert(spark.table("gs.default.alt").columns.toSeq == Seq("id", "val"))
  }

  test("RENAME COLUMN carries a NOT NULL contract to the new name") {
    warehouse
    spark.sql("CREATE TABLE gs.default.nnren (id BIGINT, v DOUBLE NOT NULL)")
    spark.sql("INSERT INTO gs.default.nnren VALUES (1, 2.0)")
    spark.sql("ALTER TABLE gs.default.nnren RENAME COLUMN v TO w")
    assert(Snapshots.constraints(spark, dirOf("default", "nnren")) ==
      Map("nn_w" -> "w IS NOT NULL"))
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gs.default.nnren VALUES (2, CAST(NULL AS DOUBLE))")
    }
    assert(e.getMessage.contains("nn_w"), e.getMessage)
    spark.sql("ALTER TABLE gs.default.nnren ALTER COLUMN w DROP NOT NULL")
    spark.sql("INSERT INTO gs.default.nnren VALUES (2, CAST(NULL AS DOUBLE))")
    assert(spark.sql("SELECT id, w FROM gs.default.nnren ORDER BY id")
      .collect().map(_.toString).toSeq == Seq("[1,2.0]", "[2,null]"))
  }

  test("CTAS creates and populates in one statement") {
    warehouse
    spark.sql("CREATE TABLE gs.default.ctas AS SELECT id, id*2 AS dbl FROM range(5)")
    assert(spark.sql("SELECT sum(dbl) FROM gs.default.ctas")
      .head().getLong(0) == 20)
  }

  test("catalog DDL: SHOW TABLES, DROP TABLE, RENAME TABLE, namespaces") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gs.nsx")
    spark.sql("CREATE TABLE gs.nsx.a (id BIGINT)")
    spark.sql("INSERT INTO gs.nsx.a VALUES (1)")
    val tables = spark.sql("SHOW TABLES IN gs.nsx").select("tableName")
      .as[String].collect().toSet
    assert(tables.contains("a"))
    // RENAME TO takes a catalog-relative name (same catalog by contract)
    spark.sql("ALTER TABLE gs.nsx.a RENAME TO nsx.b")
    assert(spark.sql("SELECT id FROM gs.nsx.b").as[Long].collect().toSeq == Seq(1L))
    spark.sql("DROP TABLE gs.nsx.b")
    assert(spark.sql("SHOW TABLES IN gs.nsx").count() == 0)
  }

  test("Scala-API tables surface through the catalog unchanged") {
    warehouse
    // write through the Scala API directly into the warehouse layout
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      dirOf("default", "interop"))
    assert(spark.sql("SELECT s FROM gs.default.interop WHERE id = 2")
      .as[String].collect().toSeq == Seq("b"))
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT ... CHECK is a data contract") {
    warehouse
    spark.sql("CREATE TABLE gs.default.ck (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.ck VALUES (1, 2.0)")
    spark.sql("ALTER TABLE gs.default.ck ADD CONSTRAINT v_pos CHECK (v > 0)")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gs.default.ck VALUES (2, -1.0)")
    }
    assert(e.getMessage.contains("v_pos"))
    assert(spark.sql("SELECT count(*) FROM gs.default.ck")
      .head().getLong(0) == 1)
    // adding a constraint existing rows violate refuses
    intercept[Exception] {
      spark.sql("ALTER TABLE gs.default.ck ADD CONSTRAINT v_big CHECK (v > 10)")
    }
    spark.sql("ALTER TABLE gs.default.ck DROP CONSTRAINT v_pos")
    spark.sql("INSERT INTO gs.default.ck VALUES (2, -1.0)")
    assert(spark.sql("SELECT count(*) FROM gs.default.ck")
      .head().getLong(0) == 2)
  }

  test("ALTER COLUMN nullability, COMMENT, and position") {
    warehouse
    spark.sql(
      "CREATE TABLE gs.default.nn (id BIGINT, v DOUBLE NOT NULL)")
    // CREATE-time NOT NULL is the enforced CHECK nn_v
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gs.default.nn VALUES (1, CAST(NULL AS DOUBLE))")
    }
    assert(e.getMessage.contains("nn_v"), e.getMessage)
    // DROP NOT NULL retires the contract; NULLs insert again
    spark.sql("ALTER TABLE gs.default.nn ALTER COLUMN v DROP NOT NULL")
    spark.sql("INSERT INTO gs.default.nn VALUES (1, CAST(NULL AS DOUBLE))")
    assert(spark.sql("SELECT count(*) FROM gs.default.nn")
      .head().getLong(0) == 1)
    // SQL SET NOT NULL is refused by Spark's own analyzer for v2
    // tables (nullable -> non-nullable); the programmatic TableChange
    // routes to setConstraint, which refuses while a NULL exists ...
    val cat = org.apache.spark.sql.graft.GraftSparkBridge
      .catalogByName(spark, "gs")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val identNN = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "nn")
    val nn = intercept[Exception] {
      cat.alterTable(identNN, org.apache.spark.sql.connector.catalog
        .TableChange.updateColumnNullability(Array("v"), false))
    }
    assert(nn.getMessage.contains("nn_v"), nn.getMessage)
    // ... and pins + enforces once the data complies
    spark.sql("DELETE FROM gs.default.nn WHERE v IS NULL")
    cat.alterTable(identNN, org.apache.spark.sql.connector.catalog
      .TableChange.updateColumnNullability(Array("v"), false))
    val nn2 = intercept[Exception] {
      spark.sql("INSERT INTO gs.default.nn VALUES (2, CAST(NULL AS DOUBLE))")
    }
    assert(nn2.getMessage.contains("nn_v"), nn2.getMessage)
    // COMMENT persists under the same key ADD COLUMN ... COMMENT uses,
    // canonicalized to the table's spelling of the column
    spark.sql("ALTER TABLE gs.default.nn ALTER COLUMN V COMMENT 'price'")
    assert(Snapshots.tableProperties(spark, dirOf("default", "nn"))
      .get("column.comment.v").contains("price"))
    // FIRST/AFTER refuses: position carries no meaning under the
    // pinned name-mapped physical schema
    val pos = intercept[Exception] {
      spark.sql("ALTER TABLE gs.default.nn ALTER COLUMN v FIRST")
    }
    assert(pos.getMessage.contains("FIRST/AFTER"), pos.getMessage)
  }

  test("CALL graft.system.* maintenance procedures") {
    warehouse
    spark.sql("CREATE TABLE gs.default.proc_t (id BIGINT, v DOUBLE)")
    (1 to 4).foreach(i => spark.sql(
      s"INSERT INTO gs.default.proc_t SELECT id, id*$i.0 FROM range(${i * 10})"))
    // history: one row per commit, through SQL
    val h = spark.sql("CALL gs.system.history(table => 'default.proc_t')")
    assert(h.count() == 5) // create + 4 inserts
    assert(h.columns.contains("operation"))
    // optimize: cluster by id into 2 files; table content unchanged
    val ov = spark.sql(
      "CALL gs.system.optimize(table => 'default.proc_t', " +
        "zorder_by => 'id,v', num_files => 2)").head().getInt(0)
    assert(ov == 6)
    assert(spark.sql("SELECT count(*) FROM gs.default.proc_t")
      .head().getLong(0) == 100)
    // restore to pre-optimize, then vacuum history down
    spark.sql("CALL gs.system.restore(table => 'default.proc_t', version => 5)")
    val vac = spark.sql(
      "CALL gs.system.vacuum(table => 'default.proc_t', keep_versions => 1)")
      .head()
    assert(vac.getInt(0) > 0) // dropped some versions
    assert(spark.sql("SELECT count(*) FROM gs.default.proc_t")
      .head().getLong(0) == 100)
    // audit is clean after vacuum
    val bad = spark.sql("CALL gs.system.audit(table => 'default.proc_t')")
      .filter(col("status") =!= "ok")
    assert(bad.count() == 0)
    // maintain: one-call policy runs end-to-end
    val m = spark.sql("CALL gs.system.maintain(table => 'default.proc_t')")
    assert(m.columns.toSeq == Seq("compacted_to", "dropped_versions",
      "deleted_files", "orphans_deleted", "dv_folded_files",
      "reanalyzed_to"))
    // detail: the one-row operator summary
    val det = spark.sql("CALL gs.system.detail(table => 'default.proc_t')")
      .head()
    assert(det.getAs[Long]("n_rows_meta") == 100L)
    assert(det.getAs[Int]("n_files") > 0)
    // files: per-file inventory — bytes/rows known, spans present
    val fl = spark.sql("CALL gs.system.files(table => 'default.proc_t')")
      .collect()
    assert(fl.length == det.getAs[Int]("n_files"))
    assert(fl.forall(r => r.getAs[Long]("bytes") > 0 &&
      r.getAs[Long]("rows") >= 0))
    assert(fl.map(_.getAs[Long]("rows")).sum == 100L)
    assert(fl.forall(_.getAs[String]("column_spans").contains("id:")))
  }

  test("CALL graft.system.clone branches a table zero-copy") {
    warehouse
    spark.sql("CREATE TABLE gs.default.cl_src (id BIGINT)")
    spark.sql("INSERT INTO gs.default.cl_src SELECT id FROM range(25)")
    spark.sql("CALL gs.system.clone(source => 'default.cl_src', " +
      "target => 'default.cl_dev')")
    assert(spark.sql("SELECT count(*) FROM gs.default.cl_dev")
      .head().getLong(0) == 25)
    // clone diverges independently via SQL DML
    spark.sql("DELETE FROM gs.default.cl_dev WHERE id < 20")
    assert(spark.sql("SELECT count(*) FROM gs.default.cl_dev")
      .head().getLong(0) == 5)
    assert(spark.sql("SELECT count(*) FROM gs.default.cl_src")
      .head().getLong(0) == 25)
  }

  test("PARTITIONED BY maps to clustering keys; TBLPROPERTIES round-trip") {
    warehouse
    spark.sql("""CREATE TABLE gs.default.clus (id BIGINT, v DOUBLE)
      PARTITIONED BY (id) TBLPROPERTIES ('owner.team' = 'data-eng')""")
    val dir = dirOf("default", "clus")
    assert(Snapshots.clusterColumns(spark, dir) == Seq("id"))
    assert(Snapshots.tableProperties(spark, dir).get("owner.team")
      .contains("data-eng"))
    // NOT hive partitioning: inserts land as plain files, no id= dirs
    spark.sql("INSERT INTO gs.default.clus SELECT id, id*1.0 FROM range(100)")
    assert(!spark.table("gs.default.clus").inputFiles.exists(_.contains("id=")))
    // properties survive SQL DML and steer CALL maintain
    spark.sql("DELETE FROM gs.default.clus WHERE id = 5")
    assert(Snapshots.clusterColumns(spark, dir) == Seq("id"))
    spark.sql("ALTER TABLE gs.default.clus SET TBLPROPERTIES ('a' = 'b')")
    assert(Snapshots.tableProperties(spark, dir).get("a").contains("b"))
    spark.sql("ALTER TABLE gs.default.clus UNSET TBLPROPERTIES ('a')")
    assert(!Snapshots.tableProperties(spark, dir).contains("a"))
    // non-identity transforms refuse
    intercept[Exception] {
      spark.sql("""CREATE TABLE gs.default.clus2 (id BIGINT, ts TIMESTAMP)
        PARTITIONED BY (days(ts))""")
    }
  }

  test("CREATE TABLE is ONE commit carrying schema, clustering, " +
      "properties, comment, and constraints") {
    warehouse
    spark.sql("""CREATE TABLE gs.default.one (id BIGINT NOT NULL, v DOUBLE)
      PARTITIONED BY (id) COMMENT 'funding ticks'
      TBLPROPERTIES ('owner.team' = 'data-eng')""")
    val dir = dirOf("default", "one")
    // everything landed in v1 — no half-configured crash window
    assert(Snapshots.versions(spark, dir) == Seq(1))
    assert(Snapshots.clusterColumns(spark, dir) == Seq("id"))
    val props = Snapshots.tableProperties(spark, dir)
    assert(props.get("owner.team").contains("data-eng"))
    assert(props.get("comment").contains("funding ticks"))
    // NOT NULL is a real write-enforced contract, not a silent drop
    assert(Snapshots.constraints(spark, dir).get("nn_id")
      .contains("id IS NOT NULL"))
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gs.default.one VALUES (NULL, 1.0)")
    }
    assert(e.getMessage.contains("nn_id"))
    spark.sql("INSERT INTO gs.default.one VALUES (1, 1.0)")
    assert(spark.sql("SELECT count(*) FROM gs.default.one")
      .head().getLong(0) == 1)
  }

  test("CREATE TABLE refuses foreign USING providers and LOCATION") {
    warehouse
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE gs.default.ref1 (id BIGINT) USING delta")
    }
    assert(e1.getMessage.contains("USING"))
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE gs.default.ref2 (id BIGINT) " +
        "LOCATION '/tmp/somewhere_else'")
    }
    assert(e2.getMessage.contains("LOCATION"))
    // explicit USING graft works, as does no USING at all
    spark.sql("CREATE TABLE gs.default.ref3 (id BIGINT) USING graft")
    spark.sql("INSERT INTO gs.default.ref3 VALUES (1)")
    assert(spark.sql("SELECT count(*) FROM gs.default.ref3")
      .head().getLong(0) == 1)
  }

  test("CREATE TABLE ... CHECK (...) is enforced, not silently dropped") {
    warehouse
    spark.sql("""CREATE TABLE gs.default.ckc (id BIGINT, v DOUBLE,
      CONSTRAINT v_pos CHECK (v > 0))""")
    assert(Snapshots.constraints(spark, dirOf("default", "ckc"))
      .get("v_pos").exists(_.contains("v")))
    val e = intercept[Exception] {
      spark.sql("INSERT INTO gs.default.ckc VALUES (1, -2.0)")
    }
    assert(e.getMessage.contains("v_pos"))
    spark.sql("INSERT INTO gs.default.ckc VALUES (1, 2.0)")
    assert(spark.sql("SELECT count(*) FROM gs.default.ckc")
      .head().getLong(0) == 1)
    // a CHECK over a column the schema lacks refuses at CREATE time
    intercept[Exception] {
      spark.sql("""CREATE TABLE gs.default.ckc2 (id BIGINT,
        CONSTRAINT ghost CHECK (nope > 0))""")
    }
  }

  test("ALTER TABLE ADD COLUMN is metadata-only; old files read NULL") {
    warehouse
    spark.sql("CREATE TABLE gs.default.addc (id BIGINT)")
    spark.sql("INSERT INTO gs.default.addc VALUES (1), (2)") // v2
    val dir = dirOf("default", "addc")
    val filesBefore = spark.table("gs.default.addc").inputFiles.toSet
    spark.sql("ALTER TABLE gs.default.addc ADD COLUMN score DOUBLE") // v3
    // zero data rewritten, shape widened, pre-evolution rows read NULL
    assert(spark.table("gs.default.addc").inputFiles.toSet == filesBefore)
    assert(spark.table("gs.default.addc").columns.toSeq ==
      Seq("id", "score"))
    assert(spark.sql(
      "SELECT count(*) FROM gs.default.addc WHERE score IS NULL")
      .head().getLong(0) == 2)
    // time travel keeps the old shape
    assert(spark.sql("SELECT * FROM gs.default.addc VERSION AS OF 2")
      .columns.toSeq == Seq("id"))
    // new writes carry the column; old files still read NULL
    spark.sql("INSERT INTO gs.default.addc VALUES (3, 0.5)")
    assert(spark.sql(
      "SELECT score FROM gs.default.addc WHERE id = 3")
      .head().getDouble(0) == 0.5)
    // conflicting / unsupported adds refuse loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE gs.default.addc ADD COLUMN id STRING")
    }
    intercept[Exception] {
      spark.sql(
        "ALTER TABLE gs.default.addc ADD COLUMN req DOUBLE NOT NULL")
    }
  }

  test("readStream.table streams a catalog table exactly-once") {
    warehouse
    spark.sql("CREATE TABLE gs.default.st (id BIGINT)")
    spark.sql("INSERT INTO gs.default.st SELECT id FROM range(10)")
    val got = scala.collection.mutable.ArrayBuffer[Long]()
    val ckpt = Files.createTempDirectory("graft_sql_st").toFile.toString
    val q = spark.readStream.table("gs.default.st")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= df.as[Long].collect() }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable()
    assert(got.synchronized(got.sorted.toSeq) == (0L until 10L))
    // commits through SQL land in the running stream
    spark.sql("INSERT INTO gs.default.st SELECT id FROM range(10, 15)")
    q.processAllAvailable(); q.stop()
    assert(got.synchronized(got.sorted.toSeq) == (0L until 15L))
  }

  test("readStream.table with readChangeFeed follows catalog DML") {
    warehouse
    spark.sql("CREATE TABLE gs.default.cdc (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.cdc VALUES (1, 1.0), (2, 2.0)")
    val events = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val ckpt = Files.createTempDirectory("graft_sql_cdc").toFile.toString
    val q = spark.readStream.option("readChangeFeed", "true")
      .table("gs.default.cdc")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        events.synchronized {
          events ++= df.select("_change_type", "id")
            .as[(String, Long)].collect()
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable()
    // SQL DML lands in the running feed as row-level changes — where
    // the plain source would kill the query
    spark.sql("UPDATE gs.default.cdc SET v = 9.0 WHERE id = 2")
    spark.sql("DELETE FROM gs.default.cdc WHERE id = 1")
    q.processAllAvailable(); q.stop()
    val got = events.synchronized(events.toList)
    assert(got.count(_ == ("insert", 2L)) == 1) // the original insert
    assert(got.count(_ == ("update_postimage", 2L)) == 1)
    assert(got.count(_ == ("update_preimage", 2L)) == 1)
    assert(got.count(_ == ("delete", 1L)) == 1)
  }

  test("writeStream.toTable routes through the exactly-once snapshot sink") {
    warehouse
    spark.sql("CREATE TABLE gs.default.wst (id BIGINT)")
    val src = Files.createTempDirectory("wst_src").toFile.toString + "/t"
    Snapshots.append(spark.range(5).toDF("id"), src)
    val ckpt = Files.createTempDirectory("wst_ck").toFile.toString
    def run() = spark.readStream.format("graft-snapshots")
      .option("path", src).load()
      .writeStream.format("graft-snapshots")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .toTable("gs.default.wst")
    val q1 = run(); q1.processAllAvailable(); q1.stop()
    assert(spark.sql("SELECT count(*) FROM gs.default.wst")
      .head().getLong(0) == 5)
    // a restart replays nothing: the (writerId, batchId) manifest tag
    // makes the epoch a no-op — content stays exactly-once
    val q2 = run(); q2.processAllAvailable()
    assert(spark.sql("SELECT count(*) FROM gs.default.wst")
      .head().getLong(0) == 5)
    // new source commits flow through to the catalog table
    Snapshots.append(spark.range(5, 8).toDF("id"), src)
    q2.processAllAvailable(); q2.stop()
    assert(spark.sql("SELECT id FROM gs.default.wst ORDER BY id")
      .as[Long].collect().toSeq == (0L until 8L))
    // the streaming write went through the snapshot commit protocol:
    // every version is an append with a writer tag, readable by version
    assert(graft.ops.Snapshots.history(spark, dirOf("default", "wst"))
      .filter(col("operation") === "append").count() >= 2)
  }

  test("INSERT INTO ... REPLACE WHERE is an atomic scoped overwrite") {
    warehouse
    spark.sql("CREATE TABLE gs.default.rw (day BIGINT, x BIGINT)")
    spark.sql("INSERT INTO gs.default.rw " +
      "SELECT id % 3 AS day, id AS x FROM range(30)")
    // re-load day 1 idempotently: its rows are replaced, others kept
    spark.sql("""INSERT INTO gs.default.rw REPLACE WHERE day = 1
      SELECT 1 AS day, id + 100 AS x FROM range(2)""")
    assert(spark.sql(
      "SELECT count(*) FROM gs.default.rw WHERE day = 1")
      .head().getLong(0) == 2)
    assert(spark.sql(
      "SELECT count(*) FROM gs.default.rw WHERE day <> 1")
      .head().getLong(0) == 20)
    // ONE commit, op recorded; previous version time-travels intact
    val dir = dirOf("default", "rw")
    assert(Snapshots.history(spark, dir)
      .filter(col("operation") === "replace-where").count() == 1)
    assert(spark.sql(
      "SELECT count(*) FROM gs.default.rw VERSION AS OF 2 WHERE day = 1")
      .head().getLong(0) == 10)
    // out-of-scope incoming rows refuse (scope-containment contract)
    val e = intercept[Exception] {
      spark.sql("""INSERT INTO gs.default.rw REPLACE WHERE day = 1
        SELECT 2 AS day, 0 AS x""")
    }
    assert(e.getMessage.contains("replace predicate") ||
      Option(e.getCause).exists(_.getMessage.contains("replace predicate")),
      e.getMessage)
    // a compound condition translates exactly
    spark.sql("""INSERT INTO gs.default.rw
      REPLACE WHERE day = 2 AND x >= 20
      SELECT 2 AS day, id + 200 AS x FROM range(2)""")
    assert(spark.sql(
      "SELECT x FROM gs.default.rw WHERE day = 2 AND x >= 20 ORDER BY x")
      .as[Long].collect().toSeq == Seq(200L, 201L))
    // full INSERT OVERWRITE still truncates (the TRUNCATE path)
    spark.sql("INSERT OVERWRITE gs.default.rw SELECT 0, 0")
    assert(spark.sql("SELECT count(*) FROM gs.default.rw")
      .head().getLong(0) == 1)
  }

  test("TRUNCATE TABLE removes rows, keeps the table contract") {
    warehouse
    spark.sql("""CREATE TABLE gs.default.trnc (id BIGINT NOT NULL, v DOUBLE)
      PARTITIONED BY (id) TBLPROPERTIES ('owner.team' = 'data-eng')""")
    spark.sql("INSERT INTO gs.default.trnc SELECT id, id*1.0 FROM range(10)")
    spark.sql("TRUNCATE TABLE gs.default.trnc")
    assert(spark.sql("SELECT count(*) FROM gs.default.trnc")
      .head().getLong(0) == 0)
    val dir = dirOf("default", "trnc")
    // a DATA verb: schema, clustering, properties, constraints carry
    assert(spark.table("gs.default.trnc").columns.toSeq == Seq("id", "v"))
    assert(Snapshots.clusterColumns(spark, dir) == Seq("id"))
    assert(Snapshots.tableProperties(spark, dir)
      .get("owner.team").contains("data-eng"))
    assert(Snapshots.constraints(spark, dir).contains("nn_id"))
    // the constraint still enforces after the truncate
    intercept[Exception] {
      spark.sql("INSERT INTO gs.default.trnc VALUES (NULL, 1.0)")
    }
    // history records it; previous version time-travels intact
    assert(Snapshots.history(spark, dir)
      .filter(col("operation") === "truncate").count() == 1)
    assert(spark.sql(
      "SELECT count(*) FROM gs.default.trnc VERSION AS OF 2")
      .head().getLong(0) == 10)
  }

  test("CTAS is ONE atomic commit (staging catalog)") {
    warehouse
    spark.sql("CREATE TABLE gs.default.actas AS " +
      "SELECT id, id * 3 AS trip FROM range(7)")
    val dir = dirOf("default", "actas")
    assert(Snapshots.versions(spark, dir) == Seq(1))
    assert(Snapshots.history(spark, dir)
      .select("operation").as[String].collect().toSeq ==
      Seq("create-table"))
    assert(spark.sql("SELECT sum(trip) FROM gs.default.actas")
      .head().getLong(0) == 63)
  }

  test("CREATE OR REPLACE TABLE replaces atomically on the same " +
      "history; REPLACE TABLE requires existence") {
    warehouse
    spark.sql("CREATE TABLE gs.default.corp AS " +
      "SELECT id, 'old' AS tag FROM range(5)")
    // replace with a DIFFERENT schema — one commit, history preserved
    spark.sql("CREATE OR REPLACE TABLE gs.default.corp AS " +
      "SELECT id * 10 AS key, id * 1.0 AS score FROM range(3)")
    val dir = dirOf("default", "corp")
    assert(spark.table("gs.default.corp").columns.toSeq ==
      Seq("key", "score"))
    assert(spark.sql("SELECT count(*) FROM gs.default.corp")
      .head().getLong(0) == 3)
    // snapshot-native REPLACE: v1 still readable (time travel), op tagged
    assert(Snapshots.versions(spark, dir) == Seq(1, 2))
    assert(Snapshots.history(spark, dir)
      .filter(col("operation") === "replace-table").count() == 1)
    assert(spark.sql(
      "SELECT tag FROM gs.default.corp VERSION AS OF 1 LIMIT 1")
      .head().getString(0) == "old")
    // REPLACE TABLE on a missing table refuses
    intercept[Exception] {
      spark.sql("REPLACE TABLE gs.default.corp_missing AS " +
        "SELECT 1 AS a")
    }
    // CREATE OR REPLACE on a missing table creates
    spark.sql("CREATE OR REPLACE TABLE gs.default.corp2 AS " +
      "SELECT 1 AS a")
    assert(spark.sql("SELECT a FROM gs.default.corp2")
      .head().getInt(0) == 1)
  }

  test("a failed REPLACE leaves the previous table intact (abort)") {
    warehouse
    spark.sql("CREATE TABLE gs.default.rfail AS " +
      "SELECT id FROM range(4)")
    // the CTAS query itself fails mid-write → abortStagedChanges
    intercept[Exception] {
      spark.sql("""CREATE OR REPLACE TABLE gs.default.rfail AS
        SELECT assert_true(id < 2, 'boom') AS chk, id FROM range(10)""")
    }
    val dir = dirOf("default", "rfail")
    // old content fully readable, no replace commit, no orphan manifest
    assert(Snapshots.versions(spark, dir) == Seq(1))
    assert(spark.sql("SELECT count(*) FROM gs.default.rfail")
      .head().getLong(0) == 4)
  }

  test("DataFrameWriterV2: writeTo append / overwrite(cond) / " +
      "createOrReplace address the same machinery as SQL") {
    warehouse
    spark.range(6).select(col("id"), (col("id") % 2).as("day"))
      .writeTo("gs.default.wtv2").create()
    val dir = dirOf("default", "wtv2")
    assert(Snapshots.versions(spark, dir) == Seq(1)) // atomic CTAS
    spark.range(6, 8).select(col("id"), lit(0L).as("day"))
      .writeTo("gs.default.wtv2").append()
    assert(spark.table("gs.default.wtv2").count() == 8)
    // scoped overwrite through the V2 writer — the REPLACE WHERE twin
    spark.range(100, 102).select(col("id"), lit(1L).as("day"))
      .writeTo("gs.default.wtv2").overwrite(col("day") === 1L)
    assert(spark.table("gs.default.wtv2").filter(col("day") === 1L)
      .select("id").as[Long].collect().sorted.toSeq == Seq(100L, 101L))
    assert(Snapshots.history(spark, dir)
      .filter(col("operation") === "replace-where").count() == 1)
    // createOrReplace: new schema, same history
    spark.range(3).select(col("id").as("k"), lit("x").as("tag"))
      .writeTo("gs.default.wtv2").createOrReplace()
    assert(spark.table("gs.default.wtv2").columns.toSeq == Seq("k", "tag"))
    assert(Snapshots.history(spark, dir)
      .filter(col("operation") === "replace-table").count() == 1)
  }

  test("INSERT OVERWRITE keeps the table contract and enforces it " +
      "on the new rows") {
    warehouse
    spark.sql("""CREATE TABLE gs.default.iow (id BIGINT NOT NULL, v DOUBLE)
      PARTITIONED BY (id) TBLPROPERTIES ('owner.team' = 'data-eng')""")
    spark.sql("INSERT INTO gs.default.iow SELECT id, id*1.0 FROM range(5)")
    spark.sql("INSERT OVERWRITE gs.default.iow SELECT id, -1.0 FROM range(3)")
    val dir = dirOf("default", "iow")
    // a routine INSERT OVERWRITE must NOT drop declared contracts
    assert(Snapshots.constraints(spark, dir).contains("nn_id"))
    assert(Snapshots.clusterColumns(spark, dir) == Seq("id"))
    assert(Snapshots.tableProperties(spark, dir)
      .get("owner.team").contains("data-eng"))
    assert(spark.sql("SELECT count(*) FROM gs.default.iow")
      .head().getLong(0) == 3)
    // ...and the contract applies to the OVERWRITING rows themselves
    val e = intercept[Exception] {
      spark.sql("INSERT OVERWRITE gs.default.iow VALUES (NULL, 0.0)")
    }
    assert(e.getMessage.contains("nn_id") ||
      Option(e.getCause).exists(_.getMessage.contains("nn_id")),
      e.getMessage)
    // previous content still time-travels
    assert(spark.sql(
      "SELECT count(*) FROM gs.default.iow VERSION AS OF 2")
      .head().getLong(0) == 5)
  }

  test("CALL vacuum takes exactly one of keep_versions / retain_hours") {
    warehouse
    spark.sql("CREATE TABLE gs.default.vac AS SELECT 1 AS a")
    spark.sql("INSERT INTO gs.default.vac VALUES (2)")
    // age-based: everything is young, nothing drops
    val r = spark.sql(
      "CALL gs.system.vacuum(table => 'default.vac', retain_hours => 24)")
      .head()
    assert(r.getInt(0) == 0)
    intercept[Exception] {
      spark.sql("CALL gs.system.vacuum(table => 'default.vac')").collect()
    }
    intercept[Exception] {
      spark.sql("""CALL gs.system.vacuum(table => 'default.vac',
        keep_versions => 1, retain_hours => 24)""").collect()
    }
  }

  test("ALTER COLUMN TYPE widens metadata-only; narrow and wide " +
      "files coexist; non-widenings refuse") {
    warehouse
    spark.sql("CREATE TABLE gs.default.wd (id INT, score FLOAT)")
    spark.sql("INSERT INTO gs.default.wd VALUES (1, 1.5), (2, 2.5)")
    spark.sql("ALTER TABLE gs.default.wd ALTER COLUMN id TYPE BIGINT")
    // post-widen rows write wide; pre-widen int32 files upcast
    spark.sql("INSERT INTO gs.default.wd VALUES (3000000000, 3.5)")
    val got = spark.sql("SELECT id, score FROM gs.default.wd ORDER BY id")
    assert(got.schema.map(_.dataType.sql) == Seq("BIGINT", "FLOAT"))
    assert(got.collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L, 3000000000L))
    val dir = dirOf("default", "wd")
    // metadata-only: the widen commit carried the base's exact files
    assert(Snapshots.history(spark, dir)
      .filter(col("operation") === "widen-column").count() == 1)
    // stats pruning still answers point predicates over narrow files
    val (kept, skipped) = Snapshots.pruneFiles(spark, dir,
      col("id") === 3000000000L)
    assert(skipped.nonEmpty) // the v2 narrow file cannot hold it
    // time travel keeps the narrow shape
    assert(spark.sql("SELECT * FROM gs.default.wd VERSION AS OF 2")
      .schema.map(_.dataType.sql) == Seq("INT", "FLOAT"))
    // narrowing refuses in Spark's own analysis (canUpCast gate)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gs.default.wd ALTER COLUMN id TYPE INT")
    }
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"),
      e.getMessage)
    // idempotent no-op: widening to the current type commits nothing
    val before = Snapshots.versions(spark, dir).size
    spark.sql("ALTER TABLE gs.default.wd ALTER COLUMN id TYPE BIGINT")
    assert(Snapshots.versions(spark, dir).size == before)
  }

  test("FLOAT→DOUBLE widen regenerates stats; pruning stays sound") {
    warehouse
    spark.sql("CREATE TABLE gs.default.wf (id BIGINT, score FLOAT)")
    // 0.1f is the canonical trap: its float stat string "0.1" re-cast
    // as double (0.1d) is BELOW the attained value ((double)0.1f ≈
    // 0.10000000149) — naive metadata widening would prune the file
    // on score = CAST(0.1 AS FLOAT) predicates
    spark.sql("INSERT INTO gs.default.wf VALUES (1, CAST(0.1 AS FLOAT))")
    spark.sql("INSERT INTO gs.default.wf VALUES (2, CAST(5.5 AS FLOAT))")
    spark.sql("ALTER TABLE gs.default.wf ALTER COLUMN score TYPE DOUBLE")
    val dir = dirOf("default", "wf")
    assert(spark.table("gs.default.wf").schema.map(_.dataType.sql) ==
      Seq("BIGINT", "DOUBLE"))
    // no data rewrite: the widen commit carries the base's exact files
    assert(Snapshots.history(spark, dir)
      .filter(col("operation") === "widen-column").count() == 1)
    // soundness: the attained value still reads back under pruning —
    // the regenerated double bound INCLUDES (double)0.1f
    val attained = java.lang.Float.parseFloat("0.1").toDouble
    val (kept, _) = Snapshots.pruneFiles(spark, dir,
      col("score") === attained)
    assert(kept.size == 1, s"$kept")
    assert(Snapshots.readWhere(spark, dir, col("score") === attained)
      .count() == 1)
    // and the other file still prunes away (stats are not merely gone)
    val (k2, s2) = Snapshots.pruneFiles(spark, dir, col("score") > 9.0)
    assert(k2.isEmpty && s2.size >= 2, s"$k2 / $s2")
    // post-widen writes land double and carry their own stats
    spark.sql("INSERT INTO gs.default.wf VALUES (3, 7.25)")
    assert(spark.sql(
      "SELECT sum(score) FROM gs.default.wf WHERE score > 5.0")
      .head().getDouble(0) == 12.75)
  }

  test("SHOW CREATE TABLE and DESCRIBE render the v2 table surface") {
    warehouse
    spark.sql("""CREATE TABLE gs.default.sct (id BIGINT, v DOUBLE)
      PARTITIONED BY (id) TBLPROPERTIES ('owner.team' = 'data-eng')""")
    val ddl = spark.sql("SHOW CREATE TABLE gs.default.sct")
      .head().getString(0)
    assert(ddl.contains("CREATE TABLE") && ddl.contains("id BIGINT"), ddl)
    assert(ddl.contains("owner.team"), ddl)
    val desc = spark.sql("DESCRIBE TABLE gs.default.sct")
      .select("col_name").as[String].collect().toSeq
    assert(desc.contains("id") && desc.contains("v"), desc.toString)
  }

  test("joins between catalog tables broadcast and stay columnar") {
    warehouse
    spark.sql("CREATE TABLE gs.default.jbig AS SELECT id, id % 5 AS k FROM range(1000)")
    spark.sql("CREATE TABLE gs.default.jdim AS SELECT id AS k, concat('g', id) AS name FROM range(5)")
    val df = spark.sql("""SELECT b.id, d.name FROM gs.default.jbig b
      JOIN gs.default.jdim d ON b.k = d.k""")
    assert(df.count() == 1000)
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), phys)
    assert(!phys.contains("BatchScan"), phys)
  }

  test("CALL restore takes exactly one of version / timestamp; the " +
      "timestamp resolves in session time") {
    warehouse
    spark.sql("CREATE TABLE gs.default.rst (id BIGINT)")
    spark.sql("INSERT INTO gs.default.rst VALUES (1)") // v2
    Thread.sleep(60)
    // rendered in the SESSION zone (UTC here), not the JVM default
    val between = java.time.LocalDateTime
      .now(java.time.ZoneId.of("UTC"))
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    Thread.sleep(60)
    spark.sql("INSERT INTO gs.default.rst VALUES (2)") // v3
    assert(spark.sql("SELECT count(*) FROM gs.default.rst")
      .head().getLong(0) == 2)
    spark.sql("CALL gs.system.restore(table => 'default.rst', " +
      s"timestamp => '$between')")
    assert(spark.sql("SELECT id FROM gs.default.rst")
      .as[Long].collect().toSeq == Seq(1L))
    val e = intercept[Exception] {
      spark.sql("CALL gs.system.restore(table => 'default.rst')")
        .collect()
    }
    assert(e.getMessage.contains("exactly one"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("CALL gs.system.restore(table => 'default.rst', " +
        s"version => 2, timestamp => '$between')").collect()
    }
    assert(e2.getMessage.contains("exactly one"), e2.getMessage)
  }

  test("CALL consumer_floors / clear_consumer_floor surface the " +
      "vacuum-refusal remedy in SQL") {
    warehouse
    spark.sql("CREATE TABLE gs.default.cfl (id BIGINT)")
    spark.sql("INSERT INTO gs.default.cfl VALUES (1)")
    val dir = dirOf("default", "cfl")
    Snapshots.recordConsumerFloor(spark, dir, "abc123", 1, "ckpt-a")
    val rows = spark.sql(
      "CALL gs.system.consumer_floors(table => 'default.cfl')")
      .as[(String, Int, String)].collect().toSeq
    assert(rows == Seq(("abc123", 1, "ckpt-a")), rows.toString)
    assert(spark.sql("CALL gs.system.clear_consumer_floor(" +
      "table => 'default.cfl', consumer_id => 'abc123')")
      .head().getBoolean(0))
    assert(spark.sql(
      "CALL gs.system.consumer_floors(table => 'default.cfl')")
      .count() == 0)
  }

  test("CALL optimize_incremental / detail: the nightly debt sweep " +
      "and table inspection from SQL") {
    warehouse
    spark.sql("CREATE TABLE gs.default.oic (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.oic SELECT id, id*1.0 FROM range(100)")
    spark.sql("INSERT INTO gs.default.oic SELECT id, id*1.0 FROM range(100, 200)")
    // first call: full layout + marker
    val v1 = spark.sql("CALL gs.system.optimize_incremental(" +
      "table => 'default.oic', zorder_by => 'id', num_files => 2)")
      .head().getInt(0)
    assert(v1 == 4) // create + 2 inserts + this layout commit
    // debt-free second call: version unchanged, no commit
    assert(spark.sql("CALL gs.system.optimize_incremental(" +
      "table => 'default.oic', zorder_by => 'id', num_files => 2)")
      .head().getInt(0) == v1)
    spark.sql("INSERT INTO gs.default.oic SELECT id, id*1.0 FROM range(200, 210)")
    assert(spark.sql("CALL gs.system.optimize_incremental(" +
      "table => 'default.oic', zorder_by => 'id', num_files => 2)")
      .head().getInt(0) == v1 + 2)
    // detail now reports manifest-derived size and the optimize marker
    val d = spark.sql("CALL gs.system.detail(table => 'default.oic')")
    assert(d.columns.contains("size_bytes") &&
      d.columns.contains("optimized_through"), d.columns.toSeq.toString)
    val row = d.head()
    assert(row.getAs[Int]("version") == v1 + 2)
    assert(row.getAs[Long]("size_bytes") > 0L)
    assert(row.getAs[String]("optimized_through") == (v1 + 2).toString)
    assert(spark.sql("SELECT count(*) FROM gs.default.oic")
      .head().getLong(0) == 210)
  }

  test("MERGE refuses every reserved source column name") {
    warehouse
    spark.sql("CREATE TABLE gs.default.mrn (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO gs.default.mrn VALUES (1, 1.0)")
    Seq("__s_mark", "__tgt_mark", "__action", "__t_v").foreach { bad =>
      val e = intercept[Exception] {
        spark.sql(s"""MERGE INTO gs.default.mrn t
          USING (SELECT CAST(1 AS BIGINT) AS k,
                        CAST(2.0 AS DOUBLE) AS v, true AS $bad) s
          ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET v = s.v
          WHEN NOT MATCHED BY SOURCE THEN DELETE""")
      }
      assert(e.getMessage.contains("reserved") ||
        e.getMessage.contains(bad), s"$bad: ${e.getMessage}")
    }
  }

  test("RENAME TO refuses a _moved tombstone or existing destination") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gs.rnx")
    spark.sql("CREATE TABLE gs.rnx.src1 (id BIGINT)")
    spark.sql("INSERT INTO gs.rnx.src1 VALUES (1)")
    // renaming src1 -> moved leaves a _moved tombstone at rnx/src1
    spark.sql("ALTER TABLE gs.rnx.src1 RENAME TO rnx.moved")
    spark.sql("CREATE TABLE gs.rnx.src2 (id BIGINT)")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE gs.rnx.src2 RENAME TO rnx.src1")
    }
    assert(e.getMessage.contains("_moved"), e.getMessage)
    // a plain non-table directory at the destination also refuses —
    // fs.rename would nest the table INSIDE it
    val stray = new java.io.File(s"$warehouse/rnx/straydir")
    stray.mkdirs()
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE gs.rnx.src2 RENAME TO rnx.straydir")
    }
    assert(e2.getMessage.contains("exists"), e2.getMessage)
    // the source is intact after both refusals
    assert(spark.sql("SELECT count(*) FROM gs.rnx.src2").head().getLong(0) == 0)
  }

  test("a catalog handle's schema is its version's scan schema, field " +
      "for field (names, types, nullability, metadata)") {
    warehouse
    spark.sql("""CREATE TABLE gs.default.parity (
        |  id BIGINT GENERATED ALWAYS AS IDENTITY,
        |  ts TIMESTAMP,
        |  day DATE GENERATED ALWAYS AS (CAST(ts AS DATE)),
        |  v DOUBLE NOT NULL,
        |  s STRING DEFAULT 'x' COMMENT 'a note')""".stripMargin)
    spark.sql("""INSERT INTO gs.default.parity (ts, v)
        |VALUES (TIMESTAMP'2024-01-01 10:00:00', 1.0)""".stripMargin) // v2
    val dir = dirOf("default", "parity")
    Snapshots.renameColumn(spark, dir, "s", "note")
    spark.sql("""INSERT INTO gs.default.parity (ts, v)
        |VALUES (TIMESTAMP'2024-01-02 10:00:00', 2.0)""".stripMargin) // v4
    val cat = spark.sessionState.catalogManager.catalog("gs")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("default"), "parity")
    Seq(4 -> cat.loadTable(ident), 2 -> cat.loadTable(ident, "2"))
      .foreach { case (v, t) =>
        val scan = Snapshots.read(spark, dir, v).schema
        assert(t.schema().fields.toSeq == scan.fields.toSeq, s"v$v")
      }
    assert(cat.loadTable(ident).schema().fieldNames.contains("note"))
    assert(cat.loadTable(ident, "2").schema().fieldNames.contains("s"))
  }
}
