package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Staged-commit stats come from the write job itself
  * ([[graft.ops.StatsTracker]]: Spark's own Count/Min/Max over each
  * file's rows as they are written) instead of a per-commit read-back
  * aggregate — this spec pins the LINE-LEVEL parity contract: the
  * `#stats` lines a commit writes must be byte-identical to what the
  * read-back aggregate renders via Spark's own cast-to-string, for
  * every stat-eligible type (strings truncated to bounds, decimals,
  * timestamps under the session zone, NaN and infinite bounds, nulls)
  * and for every staged shape (several files, zero-row files, column
  * mapping, the bucketed layout). Divergence here would silently
  * change pruning and the stats-decided aggregates. */
class StagedStatsSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_sstats").toFile.toString + "/t"

  /** The newest manifest's lines. */
  private def manifestLines(dir: String): List[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val md = new org.apache.hadoop.fs.Path(root, "_manifests")
    val name = fs.listStatus(md).map(_.getPath.getName)
      .filter(_.matches("v[0-9]{9}")).max
    val in = fs.open(new org.apache.hadoop.fs.Path(md, name))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** The files the newest manifest staged (its `#size` lines). */
  private def stagedFiles(dir: String): Set[String] =
    manifestLines(dir).filter(_.startsWith("#size\t"))
      .map(_.split('\t')(1)).toSet

  /** The staged commit's #stats lines, parsed to
    * (file, col) -> (rows, nulls, min, max). */
  private def statsOf(dir: String): Map[(String, String),
      (Long, Long, String, String)] =
    manifestLines(dir).filter(_.startsWith("#stats\t")).map { l =>
      val f = l.split('\t')
      ((f(1), java.net.URLDecoder.decode(f(3), "UTF-8")),
        (f(2).toLong, f(4).toLong, f(5), f(6)))
    }.toMap

  /** What the old read-back aggregate would render for `col` over the
    * newest manifest's staged files: min/max/null-count via Spark's own
    * cast-to-string, string bounds truncated
    * (`truncMinStat`/`truncMaxStat`), and a zero-row file — which the
    * aggregate has no group for — as rows=0 with no bounds: the parity
    * reference. */
  private def aggRendered(dir: String, c: String)
      : Map[String, (Long, Long, String, String)] = {
    val staged = stagedFiles(dir)
    val data = spark.read.parquet(s"$dir/data/*")
    val isStr = data.schema(c).dataType == org.apache.spark.sql.types.StringType
    val grouped = data
      .groupBy(input_file_name().as("__f"))
      .agg(count(lit(1L)).as("rows"),
        min(col(c)).cast("string").as("mn"),
        max(col(c)).cast("string").as("mx"),
        count(col(c)).as("nn"))
      .collect().map { r =>
        val file = r.getString(0).split('/').takeRight(3).mkString("/")
        def opt(i: Int, trunc: String => Option[String]): String =
          if (r.isNullAt(i)) "null"
          else trunc(r.getString(i)).fold("null")(v =>
            "v:" + java.net.URLEncoder.encode(v, "UTF-8"))
        file -> ((r.getLong(1), r.getLong(1) - r.getLong(4),
          opt(2, v => Some(if (isStr) Snapshots.truncMinStat(v) else v)),
          opt(3, v => if (isStr) Snapshots.truncMaxStat(v) else Some(v))))
      }.toMap.filter { case (f, _) => staged(f) }
    grouped ++ (staged -- grouped.keySet).map(_ -> ((0L, 0L, "null", "null")))
  }

  private def assertParity(dir: String, cols: Seq[String]): Unit = {
    val got = statsOf(dir)
    cols.foreach { c =>
      val want = aggRendered(dir, c)
      assert(want.nonEmpty, s"no staged files under $dir")
      want.foreach { case (file, exp) =>
        val g = got.getOrElse((file, c),
          fail(s"no #stats line for ($file, $c); have ${got.keys}"))
        assert(g == exp, s"stats mismatch for ($file, $c)")
      }
    }
  }

  test("footer-exact types render identically to the aggregate path") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq(
      (1L, 7, 1.5e20, -0.0f, true, "2024-01-31"),
      (-9L, -3, 1.0e-7, 2.5f, false, "1969-12-31"),
      (Long.MaxValue, 0, -123456.789, Float.MaxValue, true, "2000-02-29"))
      .toDF("l", "i", "d", "f", "b", "ds")
      .withColumn("dt", col("ds").cast("date")).drop("ds")
    Snapshots.append(df, dir)
    assertParity(dir, Seq("l", "i", "d", "f", "b", "dt"))
  }

  test("infinities keep parity; NaN bounds fall back to the aggregate") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq(
      (1L, Double.PositiveInfinity, 1.0),
      (2L, Double.NegativeInfinity, Double.NaN),
      (3L, 4.25, 2.0)).toDF("k", "inf_col", "nan_col")
    Snapshots.append(df.coalesce(1), dir)
    assertParity(dir, Seq("k", "inf_col", "nan_col"))
  }

  test("strings, decimals and timestamps keep the aggregate rendering") {
    import spark.implicits._
    val dir = tmp()
    val longStr = "z" * 200 // exercises the truncated-bounds discipline
    val df = Seq(
      (1L, "alpha", BigDecimal("12345.67"), "2024-01-01 00:00:00"),
      (2L, longStr, BigDecimal("-0.01"), "2024-06-15 12:34:56.789"))
      .toDF("k", "s", "dec", "tss")
      .withColumn("ts", col("tss").cast("timestamp")).drop("tss")
    Snapshots.append(df.coalesce(1), dir)
    val got = statsOf(dir)
    // string bounds truncate: min is a <=64-char prefix, max is bumped
    val (_, _, smn, smx) = got((got.keys.find(_._2 == "s").get))
    assert(smn.startsWith("v:alpha"))
    assert(smx == "v:" + java.net.URLEncoder.encode(
      "z" * 63 + "{", "UTF-8"))
    // decimal + timestamp render via Spark's cast (aggregate path)
    assertParity(dir, Seq("k", "dec"))
    val (_, _, tmn, tmx) = got(got.keys.find(_._2 == "ts").get)
    assert(tmn == "v:" + java.net.URLEncoder.encode(
      "2024-01-01 00:00:00", "UTF-8"), tmn)
    assert(tmx == "v:" + java.net.URLEncoder.encode(
      "2024-06-15 12:34:56.789", "UTF-8"), tmx)
  }

  test("nulls and all-null columns are counted exactly") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, null), (null, null), (3L, null))
      .toDF("k", "allnull")
    Snapshots.append(df.coalesce(1), dir)
    assertParity(dir, Seq("k", "allnull"))
    val got = statsOf(dir)
    val (_, nulls, mn, mx) = got(got.keys.find(_._2 == "allnull").get)
    assert(nulls == 3L && mn == "null" && mx == "null")
  }

  test("strings keep parity: >64-char and non-BMP bounds, reused row buffers") {
    val dir = tmp()
    val emoji = "\uD83D\uDE00"
    // derived rows (a projection over range) share one reused row
    // buffer: a stored min/max must be a copy, not a reference into it
    val df = spark.range(0, 400, 1, 3).select(col("id").as("k"),
      when(col("id") === 7, lit("a" * 80 + emoji))
        .when(col("id") === 150, lit(emoji * 40))
        .when(col("id") === 390, lit("zz" + emoji + "q" * 70))
        .when(col("id") % 11 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("m"), col("id").cast("string")))
        .as("s"))
    Snapshots.append(df, dir)
    assert(stagedFiles(dir).size == 3)
    assertParity(dir, Seq("k", "s"))
  }

  test("decimals keep parity, compact and wide precision") {
    val dir = tmp()
    val df = spark.range(0, 300, 1, 2).select(col("id").as("k"),
      (col("id") * lit(BigDecimal("-12.34"))).cast("decimal(10,2)").as("d10"),
      when(col("id") % 7 === 0, lit(null))
        .otherwise(col("id").cast("decimal(38,18)") /
          lit(BigDecimal("3.000000000000000001")))
        .cast("decimal(38,18)").as("d38"))
    Snapshots.append(df, dir)
    assertParity(dir, Seq("k", "d10", "d38"))
  }

  test("timestamps keep parity under a non-UTC session time zone") {
    import spark.implicits._
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "Asia/Kolkata")
    try {
      val dir = tmp()
      val df = Seq(
        (1L, "2024-01-01 00:00:00"), (2L, "2024-06-15 12:34:56.789"),
        (3L, "1999-12-31 23:59:59.000001"), (4L, null))
        .toDF("k", "tss")
        .withColumn("ts", col("tss").cast("timestamp"))
        .withColumn("ntz", col("tss").cast("timestamp_ntz")).drop("tss")
      Snapshots.append(df.repartition(2), dir)
      assertParity(dir, Seq("k", "ts", "ntz"))
    } finally spark.conf.set(key, saved)
  }

  test("a multi-file write keeps parity in every file") {
    val dir = tmp()
    val df = spark.range(0, 500).select(col("id").as("k"),
      (col("id") % 13).cast("int").as("i"),
      (col("id") / 7.0).as("d"),
      concat(lit("sym"), (col("id") % 17).cast("string")).as("s"),
      (col("id") % 2 === 0).as("b"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 40).cast("int"))
        .as("dt"))
      .repartition(3)
    Snapshots.append(df, dir)
    assert(stagedFiles(dir).size == 3)
    assertParity(dir, Seq("k", "i", "d", "s", "b", "dt"))
  }

  test("an empty frame stages a zero-row file with rows=0 lines") {
    import spark.implicits._
    val dir = tmp()
    Snapshots.append(Seq((1L, "x")).toDF("k", "s"), dir)
    Snapshots.append(Seq((1L, "x")).toDF("k", "s").limit(0), dir)
    assert(stagedFiles(dir).nonEmpty)
    assertParity(dir, Seq("k", "s"))
    assert(statsOf(dir).values.forall(_ == ((0L, 0L, "null", "null"))))
  }

  test("a column-mapped table records stats under physical names") {
    import spark.implicits._
    val dir = tmp()
    Snapshots.append(Seq((1L, "a", 2.5)).toDF("k", "s", "v"), dir)
    Snapshots.renameColumn(spark, dir, "s", "sym")
    Snapshots.append(Seq((2L, "b", 1.5), (3L, null, -4.0))
      .toDF("k", "sym", "v").coalesce(1), dir)
    val cols = statsOf(dir).keys.map(_._2).toSet
    assert(cols == Set("k", "s", "v"), cols)
    assertParity(dir, Seq("k", "s", "v"))
  }

  test("an optimizeBucketed commit keeps parity in its bucket files") {
    val dir = tmp()
    Snapshots.append(spark.range(0, 200).select(col("id").as("k"),
      concat(lit("s"), col("id").cast("string")).as("s"),
      (col("id") * 1.5).as("d")), dir)
    Snapshots.optimizeBucketed(spark, dir, Seq("k"), 4, sortCols = Seq("s"))
    assert(stagedFiles(dir).size == 4)
    assertParity(dir, Seq("k", "s", "d"))
  }

  test("an append stages and collects its stats in exactly one Spark job") {
    import spark.implicits._
    val dir = tmp()
    def frame(k: Long) = Seq(
      (k, "BTCUSDT", "2024-01-01 00:00:00", BigDecimal("1.25"), 0.0001),
      (k + 1, "ETHUSDT", "2024-01-01 08:00:00", BigDecimal("-2.5"), -0.0003))
      .toDF("k", "symbol", "tss", "dec", "rate")
      .withColumn("funding_time", col("tss").cast("timestamp")).drop("tss")
    Snapshots.append(frame(1), dir)
    val (_, jobs) = countingJobs(Snapshots.append(frame(3), dir))
    assert(jobs == 1, s"an append ran $jobs Spark jobs")
    assertParity(dir, Seq("k", "symbol", "dec", "rate", "funding_time"))
  }
}
