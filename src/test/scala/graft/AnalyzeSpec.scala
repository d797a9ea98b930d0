package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.ops.Snapshots

/** ANALYZE column statistics → cost-based optimizer: NDV/row counts
  * stored as table properties surface through the catalog relation,
  * and a multi-join query re-roots by estimated cardinality instead
  * of executing in written order. */
class AnalyzeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_an_wh").toFile.toString
    spark.conf.set("spark.sql.catalog.gan", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gan.warehouse", w)
    // three join sizes: big (20k) ⋈ mid (2k) ⋈ small (20) on one key
    Snapshots.append((0L until 20000L).map(i => (i, s"b$i"))
      .toDF("k", "bv"), s"$w/default/big")
    Snapshots.append((0L until 2000L).map(i => (i, s"m$i"))
      .toDF("k", "mv"), s"$w/default/mid")
    Snapshots.append((0L until 20L).map(i => (i, s"s$i"))
      .toDF("k", "sv"), s"$w/default/small")
    w
  }

  /** The table names under the DEEPEST join of the optimized plan —
    * the pair the engine joins first. */
  private def firstJoinTables(df: DataFrame): Set[String] = {
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.nonEmpty, "no join in the optimized plan")
    joins.last.collectLeaves().collect {
      case lr: LogicalRelation if lr.catalogTable.nonEmpty =>
        lr.catalogTable.get.identifier.table
    }.toSet
  }

  private def threeWay(): DataFrame = spark.sql(
    """SELECT b.k, m.mv, s.sv
      |FROM gan.default.big b
      |JOIN gan.default.mid m ON b.k = m.k
      |JOIN gan.default.small s ON m.k = s.k""".stripMargin)

  test("ANALYZE stores row count and per-column NDV; the catalog " +
      "relation surfaces them as plan statistics") {
    warehouse
    val r = Snapshots.analyzeColumns(spark, s"$warehouse/default/big")
    assert(r.rowCount == 20000L && r.columns.toSet == Set("k", "bv"))
    val (rc, cols) =
      Snapshots.analyzedStats(spark, s"$warehouse/default/big").get
    assert(rc == 20000L)
    assert(cols("k").nulls == 0L)
    // HLL++ approximation: within 5% of the exact 20k distinct keys
    assert(math.abs(cols("k").ndv - 20000L) <= 1000L, cols("k"))
    assert(cols("bv").avgLen.exists(_ >= 2L)) // "b0".."b19999"
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val plan = spark.sql("SELECT k, bv FROM gan.default.big WHERE k >= 0")
        .queryExecution.optimizedPlan
      assert(plan.stats.rowCount.contains(BigInt(20000)),
        s"plan stats must carry the analyzed row count: ${plan.stats}")
      assert(plan.stats.attributeStats.nonEmpty,
        "per-column NDV must reach the plan statistics")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("a 3-table join REORDERS under CBO with stats, and stays in " +
      "written order without them") {
    warehouse
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      // the mid and small tables are NOT yet analyzed in this test's
      // fresh-warehouse...  big may be (suite order) — analyze all
      // three below; first snapshot the unanalyzed behavior by
      // querying tables created without stats
      Snapshots.analyzeColumns(spark, s"$warehouse/default/big")
      // only ONE table analyzed: reorder needs stats on every item,
      // so the join stays in written order (big ⋈ mid first)
      assert(firstJoinTables(threeWay()) == Set("big", "mid"),
        "without full stats the join must stay in written order")
      Snapshots.analyzeColumns(spark, s"$warehouse/default/mid")
      Snapshots.analyzeColumns(spark, s"$warehouse/default/small")
      val first = firstJoinTables(threeWay())
      assert(first.contains("small"),
        s"with NDV stats on all three tables the optimizer must join " +
          s"through the 20-row table first, got $first")
      // and the reordered plan still computes the right answer
      assert(threeWay().count() == 20L)
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
    }
  }

  test("equi-height histograms: built under Spark's histogram flag, " +
      "stored per column, and CBO prices a skewed predicate by bin " +
      "instead of assuming uniformity") {
    val w = Files.createTempDirectory("graft_an_hist").toFile.toString
    spark.conf.set("spark.sql.catalog.ganh", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ganh.warehouse", w)
    // heavy skew: 19k rows of k=0, 1k rows spread over 1..1000, plus
    // a uniform join key j
    val rows = ((0L until 19000L).map(_ => 0L) ++ (1L to 1000L))
      .zipWithIndex.map { case (k, i) => (k, i.toLong % 2000L) }
    Snapshots.append(rows.toDF("k", "j"), s"$w/default/skew")
    Snapshots.append((0L until 2000L).map(i => (i, s"m$i"))
      .toDF("j", "mv"), s"$w/default/mid2")
    Snapshots.append((0L until 20L).map(i => (i, s"s$i"))
      .toDF("j", "sv"), s"$w/default/small2")
    // ANALYZE with the flag OFF: NDV only, no histogram
    Snapshots.analyzeColumns(spark, s"$w/default/skew")
    Snapshots.analyzeColumns(spark, s"$w/default/mid2")
    Snapshots.analyzeColumns(spark, s"$w/default/small2")
    val (_, noHist) = Snapshots.analyzedStats(spark, s"$w/default/skew").get
    assert(noHist("k").histogram.isEmpty,
      "histograms must be gated by spark.sql.statistics.histogram.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try {
      def estimate(k: Long): BigInt = spark.sql(
        s"SELECT * FROM ganh.default.skew WHERE k = $k")
        .queryExecution.optimizedPlan.stats.rowCount
        .getOrElse(sys.error("no rowCount estimate"))
      // uniformity assumption: the hot key and a rare key price the
      // SAME (~ rows/ndv ~ 20) — off by 1000x on the hot key
      val uniformHot = estimate(0L)
      val uniformRare = estimate(777L)
      assert(uniformHot == uniformRare,
        s"without histograms both keys price uniformly: " +
          s"$uniformHot vs $uniformRare")
      // re-ANALYZE with histograms on
      spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
      val numBins = spark.sessionState.conf.histogramNumBins
      Snapshots.analyzeColumns(spark, s"$w/default/skew")
      val (_, withHist) =
        Snapshots.analyzedStats(spark, s"$w/default/skew").get
      val h = withHist("k").histogram.getOrElse(
        sys.error("histogram missing after flag-on ANALYZE"))
      assert(h.bins.length == numBins, s"bins=${h.bins.length}")
      assert(math.abs(h.height * numBins - 20000.0) < 1.0,
        s"height*bins must equal the non-null count: ${h.height}")
      val hot = estimate(0L)
      val rare = estimate(777L)
      assert(hot > BigInt(5000),
        s"the hot key covers most bins and must price near 19000: $hot")
      assert(rare < BigInt(100) && rare < hot / 100,
        s"the rare key sits in one sparse bin: $rare (hot: $hot)")
      // DATE histograms use the same unit FilterEstimation replays
      // (days since epoch): a wrong unit would price date predicates
      // as out-of-range garbage, silently
      Snapshots.append((0 until 1000).map { i =>
        (i.toLong, java.sql.Date.valueOf(s"2024-01-${1 + i % 28}"))
      }.toDF("id", "d"), s"$w/default/dated")
      Snapshots.analyzeColumns(spark, s"$w/default/dated")
      val (_, dcols) = Snapshots.analyzedStats(spark, s"$w/default/dated").get
      val dh = dcols("d").histogram.getOrElse(
        sys.error("date histogram missing"))
      val jan1 = java.time.LocalDate.of(2024, 1, 1).toEpochDay.toDouble
      assert(dh.bins.head.lo >= jan1 - 1 && dh.bins.last.hi <= jan1 + 28,
        s"date bins must be epoch DAYS: [${dh.bins.head.lo}, " +
          s"${dh.bins.last.hi}] vs jan1=$jan1")
      val dEst = spark.sql("SELECT * FROM ganh.default.dated " +
        "WHERE d = DATE'2024-01-05'")
        .queryExecution.optimizedPlan.stats.rowCount
        .getOrElse(sys.error("no date estimate"))
      assert(dEst > BigInt(0) && dEst < BigInt(200),
        s"date equality must price in-range and bin-scaled: $dEst")
      // the join-order consequence: a `k = 0` filtered skew (truly
      // 19k rows) must not be joined first on a 20-row estimate —
      // with histograms the optimizer routes through mid2 ⋈ small2
      val q = spark.sql(
        """SELECT x.j, m.mv, s.sv
          |FROM (SELECT j FROM ganh.default.skew WHERE k = 0) x
          |JOIN ganh.default.mid2 m ON x.j = m.j
          |JOIN ganh.default.small2 s ON m.j = s.j""".stripMargin)
      val first = firstJoinTables(q)
      assert(!first.contains("skew") || first == Set("mid2", "small2"),
        s"with histogram pricing the 19k-row filtered side must not " +
          s"anchor the first join: $first")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "false")
      spark.conf.set("spark.sql.statistics.histogram.enabled", "false")
    }
  }

  test("ANALYZE TABLE SQL and CALL analyze route to the same stats; " +
      "named columns restrict the pass") {
    warehouse
    spark.sql("ANALYZE TABLE gan.default.small COMPUTE STATISTICS " +
      "FOR ALL COLUMNS")
    val (rc, cols) =
      Snapshots.analyzedStats(spark, s"$warehouse/default/small").get
    assert(rc == 20L && cols.keySet == Set("k", "sv"))
    val row = spark.sql(
      "CALL gan.system.analyze(table => 'default.mid', columns => 'k')")
      .collect().head
    assert(row.getAs[Long]("row_count") == 2000L)
    assert(row.getAs[String]("columns") == "k")
    // per-column stats ACCRETE: a narrower re-analyze refreshes only
    // the named columns, earlier entries for others stay
    val (_, midCols) =
      Snapshots.analyzedStats(spark, s"$warehouse/default/mid").get
    assert(midCols.contains("k"), midCols.keySet)
    // stats survive RENAME (keyed by physical identity)
    Snapshots.renameColumn(spark, s"$warehouse/default/mid", "k", "key")
    val (_, renamed) =
      Snapshots.analyzedStats(spark, s"$warehouse/default/mid").get
    assert(renamed.contains("key") && !renamed.contains("k"),
      renamed.keySet)
  }

  test("stats are STALENESS-AWARE: post-ANALYZE DML drift-scales " +
      "rowCount/NDV from manifest row counts, drops histograms past " +
      "the bound, and the CBO prices with the LIVE count") {
    val w = Files.createTempDirectory("graft_an_drift").toFile.toString
    spark.conf.set("spark.sql.catalog.gand", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gand.warehouse", w)
    val t = s"$w/default/drift"
    Snapshots.append((0L until 1000L).map(i => (i, s"v$i"))
      .toDF("k", "s"), t)
    spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
    try Snapshots.analyzeColumns(spark, t)
    finally spark.conf.set("spark.sql.statistics.histogram.enabled",
      "false")
    val (rc0, c0) = Snapshots.analyzedStats(spark, t).get
    assert(rc0 == 1000L && c0("k").histogram.nonEmpty)
    val ndv0 = c0("k").ndv
    // drift WITHIN the bound (+20%): exact live rowCount, NDV scales
    // proportionally, histogram and min/max survive
    Snapshots.append((1000L until 1200L).map(i => (i, s"v$i"))
      .toDF("k", "s"), t)
    val (rc1, c1) = Snapshots.analyzedStats(spark, t).get
    assert(rc1 == 1200L, s"rowCount must be the LIVE count: $rc1")
    assert(c1("k").ndv == math.min(1200L, math.round(ndv0 * 1.2)),
      s"NDV must scale with drift (clamped to live): ${c1("k").ndv} " +
        s"vs $ndv0")
    assert(c1("k").histogram.nonEmpty && c1("k").min.nonEmpty,
      "within the bound the distribution stats survive")
    // drift PAST the bound (2.2×): histograms and min/max drop — they
    // describe a distribution that no longer exists
    Snapshots.append((1200L until 2200L).map(i => (i, s"v$i"))
      .toDF("k", "s"), t)
    val (rc2, c2) = Snapshots.analyzedStats(spark, t).get
    assert(rc2 == 2200L)
    assert(c2("k").histogram.isEmpty && c2("k").min.isEmpty &&
      c2("k").max.isEmpty,
      "past the drift bound the unscalable stats must drop")
    assert(c2("k").ndv <= 2200L)
    // deletes drift DOWN too (DV cardinalities subtract exactly)
    dmlMode(t)
    Snapshots.deleteWhere(spark, t, col("k") < 200L)
    val (rc3, _) = Snapshots.analyzedStats(spark, t).get
    assert(rc3 == 2000L, s"DV'd rows must leave the live count: $rc3")
    // the CBO prices plans off the DRIFTED count, not the frozen one
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val plan = spark.sql("SELECT k, s FROM gand.default.drift")
        .queryExecution.optimizedPlan
      assert(plan.stats.rowCount.contains(BigInt(2000)),
        s"plan must carry the live rowCount: ${plan.stats.rowCount}")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
    // the drift computation is O(manifest): consulting the live count
    // runs NO Spark job and opens no data file
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Snapshots.liveRowsExact(spark, t).contains(2000L))
      // a job START would enqueue synchronously with the submit; a
      // short settle keeps the zero-assert honest without private APIs
      Thread.sleep(300)
      assert(jobs.get() == 0,
        s"live-row accounting must be metadata-only, ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the operator surface: CALL detail reports the live count and the
    // drift percentage an operator watches to schedule a re-ANALYZE
    val det = spark.sql(
      "CALL gand.system.detail(table => 'default.drift')").head()
    assert(det.getAs[Long]("live_rows") == 2000L, det.toString)
    assert(det.getAs[String]("stats_drift_pct") == "100.0", det.toString)
    assert(det.getAs[String]("analyzed_at_version").nonEmpty)
  }

  test("analyze.onOptimize: a rewrite maintenance commit refreshes " +
      "the stats in the same action — no separate ANALYZE, histograms " +
      "rebuilt iff the prior ANALYZE had them") {
    val w = Files.createTempDirectory("graft_an_auto").toFile.toString
    val t = s"$w/auto"
    Snapshots.append((0L until 500L).map(i => (i, i % 7))
      .toDF("k", "g"), t)
    spark.conf.set("spark.sql.statistics.histogram.enabled", "true")
    try Snapshots.analyzeColumns(spark, t)
    finally spark.conf.set("spark.sql.statistics.histogram.enabled",
      "false")
    Snapshots.setProperty(spark, t, Snapshots.AnalyzeOnOptimizeKey,
      "true")
    // the table then drifts well past the bound...
    Snapshots.append((500L until 2000L).map(i => (i, i % 7))
      .toDF("k", "g"), t)
    // ...and one OPTIMIZE both rewrites the layout AND re-ANALYZEs:
    // stats are exact again (not drift-scaled, not frozen), with
    // histograms rebuilt because the prior ANALYZE had them — even
    // though the session flag is off now
    Snapshots.optimize(spark, t, Seq("k"), numFiles = 2)
    val (rc, cols) = Snapshots.analyzedStats(spark, t).get
    assert(rc == 2000L, s"post-OPTIMIZE stats must be fresh: $rc")
    assert(cols("k").histogram.nonEmpty,
      "prior histograms must be rebuilt by the maintenance hook")
    assert(math.abs(cols("k").ndv - 2000L) <= 100L,
      s"NDV must be re-measured, not scaled: ${cols("k").ndv}")
    assert(cols("k").min.nonEmpty && cols("k").max.nonEmpty,
      "min/max must be re-measured by the hook")
    // without the property, OPTIMIZE leaves stats alone (drift-scaled)
    val t2 = s"$w/manual"
    Snapshots.append((0L until 100L).map(i => (i, i)).toDF("k", "g"), t2)
    Snapshots.analyzeColumns(spark, t2)
    Snapshots.append((100L until 160L).map(i => (i, i)).toDF("k", "g"), t2)
    val v = Snapshots.compact(spark, t2, 1)
    assert(Snapshots.tableProperties(spark, t2)
      .get("analyze.atVersion").exists(_.toInt < v),
      "no property, no auto re-analyze")
  }

  test("analyze_if_stale acts on the drift detail reports: no-op " +
      "within threshold, re-ANALYZE past it; maintain runs it under " +
      "analyze.maxDriftPct") {
    val w = Files.createTempDirectory("graft_an_stale").toFile.toString
    spark.conf.set("spark.sql.catalog.gans", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gans.warehouse", w)
    val t = s"$w/default/st"
    Snapshots.append((0L until 1000L).map(i => (i, s"v$i"))
      .toDF("k", "s"), t)
    Snapshots.analyzeColumns(spark, t)
    // +10% drift: inside a 20% threshold — decision is metadata-only
    Snapshots.append((1000L until 1100L).map(i => (i, s"v$i"))
      .toDF("k", "s"), t)
    val r0 = spark.sql(
      "CALL gans.system.analyze_if_stale(table => 'default.st')").head()
    assert(!r0.getAs[Boolean]("reanalyzed"), r0.toString)
    assert(Snapshots.tableProperties(spark, t)("analyze.rowCount")
      == "1000", "within threshold the stored stats stay")
    // +50% drift: past it — stats refresh to the exact current state
    Snapshots.append((1100L until 1500L).map(i => (i, s"v$i"))
      .toDF("k", "s"), t)
    val r1 = spark.sql(
      "CALL gans.system.analyze_if_stale(table => 'default.st')").head()
    assert(r1.getAs[Boolean]("reanalyzed") &&
      r1.getAs[Long]("row_count") == 1500L, r1.toString)
    assert(Snapshots.tableProperties(spark, t)("analyze.rowCount")
      == "1500")
    // the nightly loop: the property opts maintain into the same act
    val t2 = s"$w/default/st2"
    Snapshots.append((0L until 200L).map(i => (i, s"v$i"))
      .toDF("k", "s"), t2)
    Snapshots.analyzeColumns(spark, t2)
    Snapshots.setProperty(spark, t2, Snapshots.AnalyzeMaxDriftKey, "20")
    Snapshots.append((200L until 500L).map(i => (i, s"v$i"))
      .toDF("k", "s"), t2)
    val m1 = Snapshots.maintain(spark, t2)
    assert(m1.reanalyzedTo.nonEmpty, m1.toString)
    assert(Snapshots.tableProperties(spark, t2)("analyze.rowCount")
      == "500")
    // freshly analyzed: the next maintenance pass has nothing to do
    val m2 = Snapshots.maintain(spark, t2)
    assert(m2.reanalyzedTo.isEmpty, m2.toString)
  }
}
