package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.{Sinks, Upsert}

/** Batch sink behaviors: S10 TSV staging roundtrip; partitioned overwrite
  * layout + partition pruning at read (the 100 TB layout property — a
  * date-filtered read must touch only matching partition directories);
  * the footer row count agrees with a parquet read's count. */
class SinksSpec extends SparkSpec {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("tsvStaging writes tab-separated headerless CSV that roundtrips") {
    val path = tmp("tsv") + "/out"
    val df = Tables.nation(spark, "/root/testdata/sf0.001")
      .select("n_nationkey", "n_name", "n_regionkey")
      // plant a quote+tab value: the writer's RFC-4180 quoting and the
      // reader's matching escape must roundtrip it
      .withColumn("n_name",
        when(col("n_nationkey") === 0, lit("has \"quote\"\tand tab"))
          .otherwise(col("n_name")))
    Sinks.tsvStaging(df, path)
    val back = spark.read
      .option("sep", "\t").option("header", "false")
      .option("escape", "\"")
      .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
      .csv(path)
    assert(back.count() === df.count())
    assert(back.orderBy("n_nationkey").collect().toSeq ===
      df.orderBy("n_nationkey").collect().toSeq)
  }

  test("partitioned overwrite prunes partitions on a date filter") {
    val path = tmp("part") + "/t"
    val df = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("event_date", to_date(col("ts")))
    Sinks.overwritePartitioned(df, path, Seq("event_date"))

    val datesOnDisk = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("event_date=")).map(_.getName).sorted
    assert(datesOnDisk.length > 1, "fixture must span multiple dates")

    val oneDate = datesOnDisk.head.stripPrefix("event_date=")
    val read = spark.read.parquet(path).filter(col("event_date") === oneDate)
    read.collect()
    val plan = read.queryExecution.executedPlan
    assert(plan.toString.contains(s"PartitionFilters: [isnotnull(event_date"),
      plan.toString)
    // pruned scan must touch exactly one partition's files (inputFiles
    // reports the PRE-pruning index, so read the scan metric instead)
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, plan.toString)
    assert(scans.head.metrics("numFiles").value === 1,
      s"expected 1 file read, got ${scans.head.metrics("numFiles").value}")
  }

  // The SURVEY §4 layout contract for the funding series: partition by
  // funding_date so the flagship 120-day slice (P7,
  // funding_stats_etl.py:25-27) prunes whole date directories instead of
  // scanning years of history. The range predicate is written on the
  // event-time column PLUS its derived partition-column form — the
  // latter is what the file index can prune on (a predicate only on the
  // non-partition timestamp cannot prune directories).
  test("funding series partitioned by funding_date prunes the 120-day range scan") {
    import graft.pipelines.FundingStats
    val path = tmp("fr") + "/funding_rates"
    val fr = FundingStats.fundingRates(spark, "/root/testdata/sf0.001")
      .withColumn("funding_date", to_date(col("funding_time")))
    Sinks.overwritePartitioned(fr, path, Seq("funding_date"))

    val dirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("funding_date=")).map(_.getName).sorted
    assert(dirs.length > 2, "fixture must span >2 funding dates")
    val cutoff = dirs(dirs.length / 2).stripPrefix("funding_date=")

    val all = spark.read.parquet(path)
    val read = all.filter(
      col("funding_time") >= to_timestamp(lit(cutoff)) &&
        col("funding_date") >= lit(cutoff))
    read.collect()
    val plan = read.queryExecution.executedPlan
    assert(plan.toString.contains("PartitionFilters: [isnotnull(funding_date"),
      plan.toString)
    assert(plan.toString.contains(s"(funding_date"), plan.toString)

    // the scan must touch only the in-range partitions' files
    val matchingFiles = new java.io.File(path).listFiles()
      .filter(d => d.getName.startsWith("funding_date=") &&
        d.getName.stripPrefix("funding_date=") >= cutoff)
      .flatMap(_.listFiles()).count(_.getName.endsWith(".parquet"))
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, plan.toString)
    assert(scans.head.metrics("numFiles").value === matchingFiles,
      s"expected $matchingFiles files read, got " +
        s"${scans.head.metrics("numFiles").value}")

    // the redundant partition predicate must not change the answer
    val expected = all
      .filter(col("funding_time") >= to_timestamp(lit(cutoff))).count()
    assert(read.count() === expected)
  }

  test("dynamic partition overwrite only rewrites touched partitions") {
    val path = tmp("dyn") + "/t"
    val df = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("event_date", to_date(col("ts")))
    Sinks.overwritePartitioned(df, path, Seq("event_date"))
    val before = spark.read.parquet(path).count()

    // overwrite ONE partition with a single replacement row
    val oneDate = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("event_date=")).map(_.getName)
      .sorted.head.stripPrefix("event_date=")
    val onePartBefore = spark.read.parquet(path)
      .filter(col("event_date") === oneDate).count()
    val replacement = df.filter(col("event_date") === oneDate).limit(1)
    Sinks.overwritePartitioned(replacement, path, Seq("event_date"))

    val after = spark.read.parquet(path)
    assert(after.filter(col("event_date") === oneDate).count() === 1)
    assert(after.count() === before - onePartBefore + 1,
      "untouched partitions must survive")
  }

  test("rowCount equals a parquet read's count: flat, hive-partitioned " +
      "and beside hidden files") {
    import spark.implicits._
    def agrees(path: String, rows: Long): Unit = {
      assert(spark.read.parquet(path).count() === rows, path)
      assert(Sinks.rowCount(spark, path) === rows, path)
    }

    val flat = tmp("rc") + "/flat"
    spark.range(0, 1000, 1, 4).toDF("id").write.parquet(flat)
    agrees(flat, 1000)

    // the upsert rewrites a hive-partitioned table under its `p=` dirs
    val part = tmp("rc") + "/part"
    (0 until 50).map(i => (i.toLong, i % 3, i * 1.0)).toDF("id", "p", "v")
      .write.partitionBy("p").parquet(part)
    Upsert.upsertParquet(
      (40 until 70).map(i => (i.toLong, i % 3, i * 2.0)).toDF("id", "p", "v"),
      part, keys = Seq("id"), version = "v")
    assert(new java.io.File(part).list().count(_.startsWith("p=")) === 3)
    agrees(part, 70)

    // `_SUCCESS`, `.crc` checksums and a parquet file under `_temporary/`
    // are hidden from the read, so they count no rows
    val hidden = new java.io.File(tmp("rc"), "hidden")
    spark.range(0, 100, 1, 2).toDF("id").write.parquet(hidden.getPath)
    val names = hidden.list().toSeq
    assert(names.contains("_SUCCESS"), names)
    assert(names.exists(_.endsWith(".crc")), names)
    val data = hidden.listFiles().filter(_.getName.startsWith("part-"))
    val attempt = new java.io.File(hidden, "_temporary/0")
    assert(attempt.mkdirs())
    Files.copy(data.head.toPath, new java.io.File(attempt,
      data.head.getName).toPath)
    agrees(hidden.getPath, 100)
  }
}
