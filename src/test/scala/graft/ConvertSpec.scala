package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** CONVERT: in-place import of an existing parquet directory — the
  * manifest lists the files where they stand (zero data movement),
  * footer stats are exact and prune, the converted table takes the
  * full DML/maintenance surface, and the documented refusals fire. */
class ConvertSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_cv").toFile.toString + "/t"

  private def fixture(dir: String): Unit =
    (1L to 200L).map(i => (i, i * 2.5, s"s$i",
      java.sql.Date.valueOf(s"2024-01-${1 + (i % 28).toInt}"),
      java.sql.Timestamp.valueOf(s"2024-02-01 00:00:${i % 60}")))
      .toDF("id", "v", "s", "d", "ts")
      .repartition(4, col("id")).write.parquet(dir)

  test("convert manifests the files in place; contents match a direct " +
      "read and the original bytes are untouched") {
    val t = tmp()
    fixture(t)
    val before = new java.io.File(t).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val direct = spark.read.parquet(t).collect().map(_.toSeq).toSet
    val r = Snapshots.convert(spark, t)
    assert(r.version == 1 && r.files == before.size && r.rows == 200L)
    assert(Snapshots.read(spark, t).collect().map(_.toSeq).toSet == direct)
    // zero data movement: same files, same mtimes
    val after = new java.io.File(t).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == before, "convert must not touch the data bytes")
  }

  test("footer stats are exact: numeric/date/timestamp prune, row " +
      "counts match, strings stay fail-open") {
    val t = tmp()
    // two disjoint id eras in separate files
    (1L to 100L).map(i => (i, s"a$i")).toDF("id", "s")
      .coalesce(1).write.parquet(t)
    (101L to 200L).map(i => (i, s"b$i")).toDF("id", "s")
      .coalesce(1).write.mode("append").parquet(t)
    Snapshots.convert(spark, t)
    val (kept, skipped) =
      Snapshots.pruneFiles(spark, t, col("id") === 5L)
    assert(kept.size == 1 && skipped.size == 1,
      s"footer id stats must prune the other era: kept=$kept")
    // string predicates keep every file (footer string stats are
    // deliberately not taken — bounds may be writer-truncated)
    val (keptS, skippedS) =
      Snapshots.pruneFiles(spark, t, col("s") === "a5")
    assert(skippedS.isEmpty,
      s"string stats must stay fail-open after convert: $skippedS")
    assert(keptS.size == 2)
  }

  test("a converted table is a full citizen: DML, compact, vacuum " +
      "reclaim the original files") {
    val t = tmp()
    fixture(t)
    Snapshots.convert(spark, t)
    Snapshots.deleteWhere(spark, t, col("id") > 150L)
    Snapshots.merge(spark, t,
      Seq((1L, -1.0, "upd", java.sql.Date.valueOf("2024-03-01"),
        java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
        .toDF("id", "v", "s", "d", "ts"), Seq("id"))
    Snapshots.compact(spark, t, 1)
    Snapshots.vacuum(spark, t, keepVersions = 1)
    val got = Snapshots.read(spark, t)
    assert(got.count() == 150L)
    assert(got.filter(col("id") === 1L).head().getString(2) == "upd")
    // the converted originals were rewritten by compact and then
    // reclaimed by vacuum (they are root-relative, hence owned)
    val loose = new java.io.File(t).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(loose.isEmpty,
      s"vacuum must reclaim the converted originals: ${loose.toSeq}")
  }

  test("refusals: already converted, inconsistent partition " +
      "structures, colliding keys, non-parquet files") {
    val t = tmp()
    fixture(t)
    Snapshots.convert(spark, t)
    val e1 = intercept[IllegalArgumentException](
      Snapshots.convert(spark, t))
    assert(e1.getMessage.contains("already a snapshot table"))
    // a partitioned file among unpartitioned ones (or two key orders)
    // is the conflicting-structure shape Spark's inference refuses too
    val mixed = tmp()
    Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(mixed)
    Seq((2L, "b")).toDF("id", "s").coalesce(1)
      .write.parquet(mixed + "/p=1")
    val e2 = intercept[IllegalArgumentException](
      Snapshots.convert(spark, mixed))
    assert(e2.getMessage.contains("inconsistent partition structures"))
    // a partition key shadowing a column stored IN the files
    val clash = tmp()
    Seq((1L, "a")).toDF("id", "s").coalesce(1)
      .write.parquet(clash + "/id=7")
    val e3 = intercept[IllegalArgumentException](
      Snapshots.convert(spark, clash))
    assert(e3.getMessage.contains("collides with a column"))
    val csv = tmp()
    Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(csv)
    Files.write(Paths.get(csv + "/stray.csv"), "1,a\n".getBytes("UTF-8"))
    val e4 = intercept[IllegalArgumentException](
      Snapshots.convert(spark, csv))
    assert(e4.getMessage.contains("parquet layouts only"))
  }

  test("hive-partitioned layouts convert in place: schema, inferred " +
      "types and values match a direct partitioned read; partition " +
      "predicates file-prune through the exact path-borne stats") {
    val hp = tmp()
    (1L to 120L).map(i =>
      (i, i * 1.5, s"s$i", if (i % 3 == 0) "eu" else "us", (i % 4).toInt))
      .toDF("id", "v", "s", "region", "bucket")
      .write.partitionBy("region", "bucket").parquet(hp)
    val direct = spark.read.parquet(hp)
    val r = Snapshots.convert(spark, hp)
    assert(r.version == 1 && r.rows == 120L)
    val got = Snapshots.read(spark, hp)
    // Spark's own inference IS the type probe: string + int partition
    // columns land with identical names and types, data columns first
    assert(got.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      direct.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"schema drift: ${got.schema} vs ${direct.schema}")
    val key = got.columns.toSeq
    assert(got.select(key.map(col): _*).collect().map(_.toSeq).toSet ==
      direct.select(key.map(col): _*).collect().map(_.toSeq).toSet)
    // the path-borne values are EXACT per-file stats: both partition
    // columns prune files
    val (k1, s1) = Snapshots.pruneFiles(spark, hp, col("region") === "eu")
    assert(k1.nonEmpty && s1.nonEmpty,
      s"string partition stats must prune: kept=${k1.size} skipped=${s1.size}")
    val (k2, s2) = Snapshots.pruneFiles(spark, hp, col("bucket") === 2)
    assert(k2.nonEmpty && s2.nonEmpty,
      s"int partition stats must prune: kept=${k2.size} skipped=${s2.size}")
    // filtered reads agree with the direct read
    assert(got.filter(col("region") === "eu" && col("bucket") === 0)
      .count() ==
      direct.filter(col("region") === "eu" && col("bucket") === 0)
        .count())
  }

  test("row-level DV verbs run DIRECTLY on a converted partitioned " +
      "table (repeated basenames): path-keyed vectors name rows " +
      "unambiguously, no prior OPTIMIZE needed") {
    val hp = tmp()
    (1L to 60L).map(i => (i, (i % 3).toInt)).toDF("id", "p")
      .write.partitionBy("p").parquet(hp)
    Snapshots.convert(spark, hp)
    // partitionBy repeats part-file basenames across partition dirs —
    // vectors key by qualified PATH, so the positional delete is
    // unambiguous: exactly id=5 goes, its basename-twins untouched
    dmlMode(hp)
    val r = Snapshots.deleteWhere(spark, hp, col("id") === 5L)
    assert(r.positionsDeleted == 1L, r.toString)
    val after = Snapshots.read(spark, hp)
    assert(after.count() == 59L)
    assert(after.filter(col("id") === 5L).count() == 0L)
    // the per-partition counts prove no sibling file was masked
    assert(after.groupBy("p").count().collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap ==
      Map(0 -> 20L, 1 -> 20L, 2 -> 19L))
    // a vector update on the same converted layout
    val u = Snapshots.updateWhere(spark, hp,
      col("id") === 7L, Seq("id" -> lit(707L)))
    assert(u.updatedRows == 1L, u.toString)
    val ids = Snapshots.read(spark, hp).select("id")
      .as[Long].collect().toSet
    assert(ids.contains(707L) && !ids.contains(7L))
    // copy-on-write DML coexists, rewritten rows materialize the
    // partition column physically
    dmlMode(hp, mor = false)
    Snapshots.deleteWhere(spark, hp, col("id") > 50L && col("id") < 700L)
    val got = Snapshots.read(spark, hp)
    assert(got.count() == 49L)
    assert(got.filter(col("p") === 1).count() ==
      (1L to 50L).count(i => i % 3 == 1 && i != 7L) + 1)
  }

  test("change feed attributes a delete-light's rows on a converted " +
      "partitioned table: the positional feed is path-keyed too") {
    val hp = tmp()
    (1L to 30L).map(i => (i, (i % 2).toInt)).toDF("id", "p")
      .write.partitionBy("p").parquet(hp)
    Snapshots.convert(spark, hp)
    dmlMode(hp)
    Snapshots.deleteWhere(spark, hp, col("id").isin(3L, 4L))
    val feed = Snapshots.changeFeed(spark, hp, 0)
    val byKind = feed.groupBy("_change_type", "_commit_version").count()
      .collect().map(x => (x.getString(0), x.getInt(1)) -> x.getLong(2))
      .toMap
    assert(byKind == Map(("insert", 1) -> 30L, ("delete", 3) -> 2L),
      byKind.toString)
    // the deleted rows surface with their PATH-BORNE partition values
    assert(feed.filter(col("_change_type") === "delete")
      .select("id", "p").collect().map(x => (x.getLong(0), x.getInt(1)))
      .toSet == Set((3L, 1), (4L, 0)))
  }

  test("convert declares the partition keys as clustering keys, so an " +
      "OPTIMIZE rewrite keeps the layout's pruning instead of " +
      "destroying it") {
    val hp = tmp()
    (1L to 400L).map(i => (i, (i % 4).toInt)).toDF("id", "p")
      .write.partitionBy("p").parquet(hp)
    Snapshots.convert(spark, hp)
    assert(Snapshots.tableProperties(spark, hp)
      .get("cluster.columns").contains("p"),
      "the layout's access pattern must survive as the clustering " +
        "declaration")
    // the rewrite clusters by p: a partition-value probe still prunes
    // (an unclustered compact would mix shards and widen every file's
    // p-range to [0,3] — nothing would ever prune again)
    Snapshots.optimize(spark, hp,
      Snapshots.clusterColumns(spark, hp), numFiles = 4)
    val (kept, skipped) = Snapshots.pruneFiles(spark, hp, col("p") === 2)
    assert(skipped.nonEmpty,
      s"post-OPTIMIZE the partition key must still prune: " +
        s"kept=${kept.size} skipped=${skipped.size}")
    assert(Snapshots.read(spark, hp).filter(col("p") === 2).count() ==
      100L)
  }

  test("change feed over a converted partitioned v1 attributes rows " +
      "per version despite repeated basenames") {
    val hp = tmp()
    (1L to 30L).map(i => (i, (i % 2).toInt)).toDF("id", "p")
      .write.partitionBy("p").parquet(hp)
    Snapshots.convert(spark, hp)
    Snapshots.append((31L to 40L).map(i => (i, (i % 2).toInt))
      .toDF("id", "p"), hp)
    val feed = Snapshots.changeFeed(spark, hp, 0)
    val byVersion = feed.groupBy("_commit_version")
      .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byVersion == Map(1 -> 30L, 2 -> 10L), byVersion)
    assert(feed.filter(col("_commit_version") === 1 && col("p") === 1)
      .count() == 15L, "path-borne values must ride the feed")
  }

  test("a shallow clone of a converted partitioned table reads " +
      "identical values (property + absolute-path fill both carry)") {
    val hp = tmp()
    (1L to 40L).map(i => (i, (i % 4).toInt)).toDF("id", "p")
      .write.partitionBy("p").parquet(hp)
    Snapshots.convert(spark, hp)
    val dst = tmp()
    Snapshots.shallowClone(spark, hp, dst)
    val src = Snapshots.read(spark, hp).collect().map(_.toSeq).toSet
    val cln = Snapshots.read(spark, dst).collect().map(_.toSeq).toSet
    assert(cln == src, "clone must materialize the same path-borne values")
    assert(Snapshots.read(spark, dst).filter(col("p") === 2).count() ==
      10L)
  }

  test("RENAME COLUMN on a path-borne partition column: reads and " +
      "pruning keep working through the physical-name mapping") {
    val hp = tmp()
    (1L to 30L).map(i => (i, (i % 3).toInt)).toDF("id", "p")
      .write.partitionBy("p").parquet(hp)
    Snapshots.convert(spark, hp)
    Snapshots.renameColumn(spark, hp, "p", "bucket")
    val got = Snapshots.read(spark, hp)
    assert(got.columns.toSeq == Seq("id", "bucket"))
    assert(got.filter(col("bucket") === 1).count() ==
      (1L to 30L).count(_ % 3 == 1))
    // stats are keyed physically too: the renamed column still prunes
    val (kept, skipped) =
      Snapshots.pruneFiles(spark, hp, col("bucket") === 1)
    assert(kept.nonEmpty && skipped.nonEmpty,
      s"renamed partition column must still prune: kept=${kept.size} " +
        s"skipped=${skipped.size}")
  }

  test("DATE-typed partition values: inference, scan-side cast and " +
      "exact stats all agree with a direct partitioned read") {
    val hp = tmp()
    (1L to 60L).map(i => (i,
      java.sql.Date.valueOf(s"2024-03-${10 + (i % 3).toInt}")))
      .toDF("id", "day").write.partitionBy("day").parquet(hp)
    Snapshots.convert(spark, hp)
    val direct = spark.read.parquet(hp)
    val got = Snapshots.read(spark, hp)
    assert(got.schema("day").dataType ==
      direct.schema("day").dataType,
      s"day must infer identically: ${got.schema("day").dataType} vs " +
        s"${direct.schema("day").dataType}")
    assert(got.select("id", "day").collect().map(_.toSeq).toSet ==
      direct.select("id", "day").collect().map(_.toSeq).toSet)
    // the path-borne date stat prunes: one day's probe skips the rest
    val (kept, skipped) = Snapshots.pruneFiles(spark, hp,
      col("day") === java.sql.Date.valueOf("2024-03-11"))
    assert(kept.nonEmpty && skipped.nonEmpty,
      s"date partition stats must prune: kept=${kept.size} " +
        s"skipped=${skipped.size}")
    assert(got.filter(col("day") === java.sql.Date.valueOf("2024-03-11"))
      .count() == (1L to 60L).count(_ % 3 == 1))
  }

  test("partition default (__HIVE_DEFAULT_PARTITION__) reads NULL and " +
      "records an exact all-null stat") {
    val hp = tmp()
    (1L to 10L).map(i => (i, if (i <= 4) null else s"g${i % 2}"))
      .toDF("id", "g").write.partitionBy("g").parquet(hp)
    Snapshots.convert(spark, hp)
    val direct = spark.read.parquet(hp)
    val got = Snapshots.read(spark, hp)
    assert(got.filter(col("g").isNull).count() == 4L)
    assert(got.collect().map(_.toSeq).toSet ==
      direct.select(got.columns.map(col): _*).collect()
        .map(_.toSeq).toSet)
    // IS NOT NULL prunes the default-partition file
    val (_, skipped) = Snapshots.pruneFiles(spark, hp, col("g").isNotNull)
    assert(skipped.nonEmpty, "all-null partition stat must prune")
  }

  test("partition values decode PERCENT-ONLY: a literal '+' survives " +
      "(tz=UTC+2-style layouts), %XX escapes still decode — exactly " +
      "what a direct Spark partitioned read sees") {
    val hp = tmp()
    // Spark's own partition escaping writes '+' and ' ' literally and
    // specials like ':' as %XX — both shapes in one layout
    (1L to 30L).map(i =>
      (i, if (i % 3 == 0) "UTC+2" else if (i % 3 == 1) "UTC+02:00"
          else "Etc/GMT 1"))
      .toDF("id", "tz").write.partitionBy("tz").parquet(hp)
    val direct = spark.read.parquet(hp)
    Snapshots.convert(spark, hp)
    val got = Snapshots.read(spark, hp)
    assert(got.select("id", "tz").collect().map(_.toSeq).toSet ==
      direct.select("id", "tz").collect().map(_.toSeq).toSet,
      "converted values must match the direct partitioned read exactly")
    assert(got.filter(col("tz") === "UTC+2").count() ==
      (1L to 30L).count(_ % 3 == 0))
    // the exact path-borne stat prunes on the '+' value too — the
    // convert-time decode and the scan-side fill MUST agree
    val (kept, skipped) =
      Snapshots.pruneFiles(spark, hp, col("tz") === "UTC+2")
    assert(kept.nonEmpty && skipped.nonEmpty,
      s"'+' partition value must prune: kept=${kept.size} " +
        s"skipped=${skipped.size}")
    // row-level DML on the '+' partition round-trips the value
    dmlMode(hp)
    Snapshots.deleteWhere(spark, hp,
      col("tz") === "UTC+2" && col("id") === 3L)
    assert(Snapshots.read(spark, hp).filter(col("tz") === "UTC+2")
      .count() == (1L to 30L).count(_ % 3 == 0) - 1)
  }

  test("partition-value decode agrees with a direct Spark read across " +
      "the special-character sweep (every Hive-escaped class, plus " +
      "values that LOOK pre-encoded)") {
    // one value per escape class Hive/Spark path-escaping handles,
    // plus traps: a literal '%2B' in the VALUE (double-encoding must
    // round-trip, not collapse to '+'), bare '%', and mixed forms
    val specials = Seq(
      "a b", "a:b", "a/b", "a+b", "a%b", "a=b", "a#b", "a'b",
      "a*b", "a?b", "a[b]", "a^b", "a{b}", "a\\b", "100%", "c++",
      "a%2Bb", "%20", "UTC+02:00 (DST)")
    val hp = tmp()
    specials.zipWithIndex.flatMap { case (v, i) =>
      (0 until 3).map(j => ((i * 3 + j).toLong, v))
    }.toDF("id", "tag").write.partitionBy("tag").parquet(hp)
    val direct = spark.read.parquet(hp)
    Snapshots.convert(spark, hp)
    val got = Snapshots.read(spark, hp)
    assert(got.select("id", "tag").collect().map(_.toSeq).toSet ==
      direct.select("id", "tag").collect().map(_.toSeq).toSet,
      "every escape class must round-trip exactly as Spark reads it")
    // each distinct value files-prunes via its exact path-borne stat
    specials.foreach { v =>
      assert(got.filter(col("tag") === v).count() == 3L, s"value '$v'")
    }
    val (kept, skipped) =
      Snapshots.pruneFiles(spark, hp, col("tag") === "a%2Bb")
    assert(kept.nonEmpty && skipped.nonEmpty,
      s"pre-encoded-looking value must prune: kept=${kept.size}")
    // and the positional verbs address rows in any escaped partition
    dmlMode(hp)
    Snapshots.deleteWhere(spark, hp, col("tag") === "a%2Bb")
    assert(Snapshots.read(spark, hp).count() ==
      (specials.size * 3 - 3).toLong)
  }

  test("files with heterogeneous schemas merge: the missing column is " +
      "recorded exactly all-NULL and reads NULL") {
    val t = tmp()
    Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(t)
    Seq((2L, "b", 9.0)).toDF("id", "s", "extra")
      .coalesce(1).write.mode("append").parquet(t)
    Snapshots.convert(spark, t)
    val got = Snapshots.read(spark, t).orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(got(0).isNullAt(2) && got(1).getDouble(2) == 9.0)
    // the all-null record is prunable: IS NOT NULL skips the old file
    val (kept, skipped) =
      Snapshots.pruneFiles(spark, t, col("extra").isNotNull)
    assert(kept.size == 1 && skipped.size == 1,
      s"exact all-null footer record must prune: kept=$kept")
  }

  test("timestamp footer stats round-trip under a NON-UTC session " +
      "timezone: no wrong pruning") {
    // stats strings cast back under the READER's session timezone at
    // prune time — a hard-coded-UTC rendering would shift the bounds
    // by the zone offset and prune files that contain matching rows
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    // Spark's legacy default INT96 timestamps carry no usable footer
    // stats (deprecated ordering — convert fails open there); the
    // modern annotated micros are what external writers produce
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    try {
      val t = tmp()
      spark.sql(
        """SELECT id, CAST(ts AS TIMESTAMP) AS ts FROM VALUES
          |  (1L, '2024-06-01 09:00:00'),
          |  (2L, '2024-06-01 10:00:00') AS v(id, ts)""".stripMargin)
        .coalesce(1).write.parquet(t)
      spark.sql(
        """SELECT id, CAST(ts AS TIMESTAMP) AS ts FROM VALUES
          |  (3L, '2024-07-01 09:00:00') AS v(id, ts)""".stripMargin)
        .coalesce(1).write.mode("append").parquet(t)
      Snapshots.convert(spark, t)
      // an equality probe at a real instant must keep its file...
      val (kept, _) = Snapshots.pruneFiles(spark, t,
        col("ts") === expr("CAST('2024-06-01 09:00:00' AS TIMESTAMP)"))
      assert(kept.size == 1,
        s"the June file holds a matching row and must be kept: $kept")
      assert(Snapshots.read(spark, t)
        .filter(col("ts") === expr(
          "CAST('2024-06-01 09:00:00' AS TIMESTAMP)")).count() == 1)
      // ...and the July file is genuinely prunable (stats live)
      val (_, skipped) = Snapshots.pruneFiles(spark, t,
        col("ts") < expr("CAST('2024-06-15 00:00:00' AS TIMESTAMP)"))
      assert(skipped.size == 1, s"July must prune: skipped=$skipped")
    } finally {
      spark.conf.set("spark.sql.session.timeZone", prevTz)
      spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)
    }
  }

  test("LEGACY-rebased date/timestamp footers fail open: no wrong " +
      "pruning, no wrong metadata aggregate") {
    // a LEGACY writer stores hybrid-Julian days/micros that every read
    // rebases; the raw footer bounds of 1000-01-01 read as 1000-01-06
    val confs = Seq(
      "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val t = tmp()
    try {
      spark.sql(
        """SELECT id, CAST(d AS DATE) AS d, CAST(d AS TIMESTAMP) AS ts
          |FROM VALUES (1L, '1000-01-01'), (2L, '1000-01-03'),
          |  (3L, '1000-01-20') AS v(id, d)""".stripMargin)
        .coalesce(1).write.parquet(t)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    Snapshots.convert(spark, t)
    Seq(col("d") === expr("DATE'1000-01-01'"),
        col("ts") === expr("TIMESTAMP'1000-01-01 00:00:00'")).foreach { p =>
      val direct = spark.read.parquet(t).filter(p).count()
      assert(direct == 1L)
      assert(Snapshots.readWhere(spark, t, p).count() == direct, s"$p")
    }
    // exact or absent: the metadata aggregate either refuses or
    // reports the attained minimum
    Seq("d", "ts").foreach { c =>
      Snapshots.aggregateFromManifest(spark, t, Seq(c)).foreach { agg =>
        val want = spark.read.parquet(t).agg(min(col(c)).cast("string"))
          .head().getString(0)
        assert(agg.select(col(s"min_$c").cast("string")).head()
          .getString(0) == want, c)
      }
    }
    // row counts are unaffected: the id column still records them
    assert(Snapshots.aggregateFromManifest(spark, t, Nil).get.head()
      .getLong(0) == 3L)
  }

  test("footer stats match columns case-insensitively: a file whose " +
      "casing differs is not falsely recorded all-NULL") {
    val t = tmp()
    Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(t)
    Seq((100L, "b")).toDF("ID", "s").coalesce(1)
      .write.mode("append").parquet(t)
    Snapshots.convert(spark, t)
    // a false all-null record for the ID file would prune it on ANY
    // id predicate — the row would silently vanish from filtered reads
    val (kept, _) = Snapshots.pruneFiles(spark, t, col("id") === 100L)
    assert(kept.size == 1,
      s"the upper-case file holds id=100 and must be kept: $kept")
    assert(Snapshots.read(spark, t).filter(col("id") === 100L)
      .count() == 1)
  }

  test("CALL convert: the SQL surface") {
    val w = Files.createTempDirectory("graft_cv_wh").toFile.toString
    spark.conf.set("spark.sql.catalog.gcv", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcv.warehouse", w)
    // the parquet directory already sits where the catalog expects
    // the table — convert manifests it in place, then SQL reads it
    (1L to 50L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartition(2).write.parquet(s"$w/default/ct")
    val row = spark.sql(
      "CALL gcv.system.convert(table => 'default.ct')").collect().head
    assert(row.getAs[Number]("version").intValue == 1)
    assert(row.getAs[Number]("rows").longValue == 50L)
    assert(spark.sql("SELECT sum(id) FROM gcv.default.ct")
      .head().getLong(0) == (1L to 50L).sum)
  }
}
