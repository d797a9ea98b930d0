package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.ops.Snapshots

/** Streaming-read contract of the snapshot source: each trigger
  * delivers exactly the newly committed versions' rows, a checkpointed
  * restart resumes at the recorded version (no replay, no loss),
  * startingVersion skips history, and a rewritten history fails the
  * query instead of feeding wrong deltas. */
class SnapshotSourceSpec extends SparkSpec {
  import spark.implicits._

  private def startCollecting(table: String, ckpt: String,
      sink: mutable.ArrayBuffer[Long], startingVersion: Option[Int] = None) = {
    val reader = spark.readStream.format("graft-snapshots")
      .option("path", table)
    startingVersion.foreach(v => reader.option("startingVersion", v))
    reader.load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        sink.synchronized { sink ++= df.as[Long].collect() }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches " +
      "and self-terminates; the next run picks up later commits") {
    val base = Files.createTempDirectory("snap-an")
    val table = s"$base/t"; val ckpt = s"$base/ckpt"
    (1 to 6).foreach(i => Snapshots.append(Seq(i.toLong).toDF("id"), table))
    val got = mutable.ArrayBuffer[Long]()
    val batches = mutable.ArrayBuffer[Long]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-snapshots")
        .option("path", table)
        .option("maxVersionsPerTrigger", "2")
        .load()
        .writeStream
        .foreachBatch { (df: DataFrame, bid: Long) =>
          got.synchronized { got ++= df.as[Long].collect(); batches += bid }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000),
        "AvailableNow must drain and stop on its own")
    }
    drain()
    assert(got.sorted.toSeq == (1L to 6L),
      "the one-shot backfill must deliver the whole backlog exactly")
    assert(batches.size >= 3,
      s"maxVersionsPerTrigger=2 must split 6 versions: $batches")
    // commits AFTER the drain belong to the NEXT run, exactly once
    Snapshots.append(Seq(7L).toDF("id"), table)
    drain()
    assert(got.sorted.toSeq == (1L to 7L))
  }

  test("Trigger.AvailableNow on an empty-at-start table terminates " +
      "without following commits that postdate the trigger") {
    val base = Files.createTempDirectory("snap-an-empty")
    val table = s"$base/t"; val ckpt = s"$base/ckpt"
    // the table EXISTS (schema via one create-shaped commit is not
    // required — the source needs at least one version to derive the
    // schema, so seed one row and start PAST it)
    Snapshots.append(Seq(0L).toDF("id"), table)
    val got = mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format("graft-snapshots")
      .option("path", table)
      .option("startingVersion", "1") // nothing left at start
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        got.synchronized { got ++= df.as[Long].collect() }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000),
      "an empty one-shot run must terminate immediately")
    assert(got.isEmpty)
  }

  test("Trigger.AvailableNow drains a CHANGE FEED backlog through DML " +
      "commits and self-terminates") {
    val base = Files.createTempDirectory("snap-an-cf")
    val table = s"$base/t"; val ckpt = s"$base/ckpt"
    Snapshots.append(Seq(1L, 2L, 3L).toDF("id"), table)
    Snapshots.deleteWhere(spark, table,
      org.apache.spark.sql.functions.col("id") === 2L)
    Snapshots.append(Seq(4L).toDF("id"), table)
    val got = mutable.ArrayBuffer[(Long, String)]()
    val q = spark.readStream.format("graft-snapshots")
      .option("path", table)
      .option("readChangeFeed", "true")
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        got.synchronized {
          got ++= df.select("id", "_change_type")
            .as[(Long, String)].collect()
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "CDC AvailableNow must stop")
    assert(got.sorted.toSeq == Seq((1L, "insert"), (2L, "delete"),
      (2L, "insert"), (3L, "insert"), (4L, "insert")),
      s"got: ${got.sorted.toSeq}")
  }

  test("each trigger delivers newly committed versions; restart resumes") {
    val base = Files.createTempDirectory("snap-src")
    val table = s"$base/t"; val ckpt = s"$base/ckpt"
    Snapshots.append(Seq(1L, 2L).toDF("id"), table)
    val got = mutable.ArrayBuffer[Long]()
    val q1 = startCollecting(table, ckpt, got)
    q1.processAllAvailable()
    assert(got.sorted.toSeq == Seq(1L, 2L))
    Snapshots.append(Seq(3L).toDF("id"), table)
    q1.processAllAvailable()
    assert(got.sorted.toSeq == Seq(1L, 2L, 3L))
    q1.stop()
    // commits while the consumer is DOWN arrive once on restart
    Snapshots.append(Seq(4L, 5L).toDF("id"), table)
    val q2 = startCollecting(table, ckpt, got)
    q2.processAllAvailable(); q2.stop()
    assert(got.sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("startingVersion skips already-handled history") {
    val base = Files.createTempDirectory("snap-src-sv")
    val table = s"$base/t"
    Snapshots.append(Seq(1L).toDF("id"), table) // v1: history
    Snapshots.append(Seq(2L, 3L).toDF("id"), table) // v2: new
    val got = mutable.ArrayBuffer[Long]()
    val q = startCollecting(table, s"$base/ckpt", got,
      startingVersion = Some(1))
    q.processAllAvailable(); q.stop()
    assert(got.sorted.toSeq == Seq(2L, 3L))
  }

  test("full loop: stream FROM a snapshot table INTO durable rollup state") {
    import graft.ops.IncrementalAgg
    val base = Files.createTempDirectory("snap-loop")
    val facts = s"$base/facts"; val state = s"$base/state"
    val ckpt = s"$base/ckpt"
    Snapshots.append(Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v"), facts)
    def startLoop() = spark.readStream.format("graft-snapshots")
      .option("path", facts).load()
      .writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        IncrementalAgg.advanceVersioned(state, df, Seq("k"), "v",
          "loop", batchId)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val q1 = startLoop()
    q1.processAllAvailable()
    Snapshots.append(Seq(("a", 3.0)).toDF("k", "v"), facts)
    q1.processAllAvailable(); q1.stop()
    // facts committed while the consumer is down arrive exactly once
    Snapshots.append(Seq(("b", 4.0), ("c", 5.0)).toDF("k", "v"), facts)
    val q2 = startLoop()
    q2.processAllAvailable(); q2.stop()
    val got = IncrementalAgg.finalize(Snapshots.read(spark, state))
      .select("k", "n", "sum_value").as[(String, Long, Double)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(("a", 2L, 4.0), ("b", 2L, 6.0), ("c", 1L, 5.0)))
  }

  test("maxVersionsPerTrigger drains a backlog in capped exactly-once batches") {
    val base = Files.createTempDirectory("snap-src-cap")
    val table = s"$base/t"; val ckpt = s"$base/ckpt"
    // a 10-version backlog, one row per version
    (1 to 10).foreach(i => Snapshots.append(Seq(i.toLong).toDF("id"), table))
    val batches = mutable.ArrayBuffer[Seq[Long]]()
    def sinkTo(trigger: Trigger) = spark.readStream
      .format("graft-snapshots")
      .option("path", table).option("maxVersionsPerTrigger", 3).load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        batches.synchronized { batches += df.as[Long].collect().toSeq }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .start()
    // two one-shot runs: each admits exactly k=3 versions (the
    // documented Trigger.Once caveat) and the stop between them is a
    // mid-drain restart — the persisted base must keep the next batch
    // starting at the checkpointed version, never below it
    val q1 = sinkTo(Trigger.Once()); q1.awaitTermination()
    val q2 = sinkTo(Trigger.Once()); q2.awaitTermination()
    val firstTwo = batches.synchronized(batches.filter(_.nonEmpty).toList)
    assert(firstTwo.map(_.size) == Seq(3, 3))
    // a running trigger drains the remaining 4 versions: ceil(4/3) = 2
    val q3 = sinkTo(Trigger.ProcessingTime(0))
    q3.processAllAvailable(); q3.stop()
    val all = batches.synchronized(batches.filter(_.nonEmpty).toList)
    assert(all.map(_.size) == Seq(3, 3, 3, 1)) // ceil(10/3) = 4 batches
    assert(all.flatten.sorted == (1L to 10L)) // exactly once, no loss
  }

  test("maxFilesPerTrigger splits ONE multi-file version across triggers") {
    val base = Files.createTempDirectory("snap-src-fcap")
    val table = s"$base/t"; val ckpt = s"$base/ckpt"
    // one giant backfill commit: a single version of 8 files — the
    // burst case a version cap cannot split
    Snapshots.append(spark.range(80).toDF("id").repartition(8), table)
    val batches = mutable.ArrayBuffer[Seq[Long]]()
    def sinkTo(trigger: Trigger) = spark.readStream
      .format("graft-snapshots")
      .option("path", table).option("maxFilesPerTrigger", 3).load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        batches.synchronized { batches += df.as[Long].collect().toSeq }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .start()
    // one-shot run: admits 3 of the version's 8 files, then STOPS —
    // the restart resumes mid-version from the checkpointed slice
    val q1 = sinkTo(Trigger.Once()); q1.awaitTermination()
    val first = batches.synchronized(batches.filter(_.nonEmpty).toList)
    assert(first.size == 1)
    assert(first.head.size < 80 && first.head.nonEmpty) // version split!
    // a running trigger drains the rest: ceil(5/3) = 2 more batches
    val q2 = sinkTo(Trigger.ProcessingTime(0))
    q2.processAllAvailable()
    // new commits while capped keep draining file-wise across versions
    Snapshots.append(spark.range(80, 100).toDF("id").repartition(2), table)
    q2.processAllAvailable(); q2.stop()
    val all = batches.synchronized(batches.filter(_.nonEmpty).toList)
    // 8 files at 3/trigger = 3 batches for v1, then v2's 2 files
    assert(all.size == 4, all.map(_.size).toString)
    assert(all.flatten.sorted == (0L until 100L)) // exactly once
  }

  test("version and file caps compose") {
    val base = Files.createTempDirectory("snap-src-both")
    val table = s"$base/t"
    // 4 versions x 2 files each
    (0 until 4).foreach(i => Snapshots.append(
      spark.range(i * 10L, i * 10L + 10L).toDF("id").repartition(2), table))
    val batches = mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format("graft-snapshots")
      .option("path", table)
      .option("maxVersionsPerTrigger", 2)
      .option("maxFilesPerTrigger", 3).load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        batches.synchronized { batches += df.as[Long].collect().toSeq }
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable(); q.stop()
    val all = batches.synchronized(batches.filter(_.nonEmpty).toList)
    // every batch admits <= 3 files AND <= 2 versions: with ~5-row
    // files (10 rows over 2 partitions) no batch may exceed ~3 files'
    // worth — far below the uncapped 40-row swallow
    assert(all.size >= 2 && all.forall(_.size < 25), all.map(_.size).toString)
    assert(all.flatten.sorted == (0L until 40L))
  }

  test("readChangeFeed streams THROUGH merge/delete/update/DV commits " +
      "exactly-once") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("snap-cdc")
    val table = s"$base/t"; val ckpt = s"$base/ckpt"
    Snapshots.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), table)
    val events = mutable.ArrayBuffer[(String, Long, Double)]()
    def start() = spark.readStream.format("graft-snapshots")
      .option("path", table).option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        events.synchronized {
          events ++= df.select("_change_type", "k", "v")
            .as[(String, Long, Double)].collect()
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val q1 = start()
    q1.processAllAvailable()
    assert(events.synchronized(events.toSet) ==
      Set(("insert", 1L, 10.0), ("insert", 2L, 20.0)))
    // an upsert: the feed must emit k=2 as a PAIRED update (preimage +
    // postimage — the merge records its keys), and k=3 as a fresh
    // insert, where the plain source would have killed the query
    Snapshots.merge(spark, table,
      Seq((2L, 22.0), (3L, 30.0)).toDF("k", "v"), Seq("k"))
    q1.processAllAvailable()
    assert(events.synchronized(events.toSet)
      .contains(("update_preimage", 2L, 20.0)))
    assert(events.synchronized(events.toSet)
      .contains(("update_postimage", 2L, 22.0)))
    assert(events.synchronized(events.toSet).contains(("insert", 3L, 30.0)))
    Snapshots.deleteWhere(spark, table, col("k") === 1L)
    Snapshots.append(Seq((4L, 40.0)).toDF("k", "v"), table)
    q1.processAllAvailable(); q1.stop()
    // commits while the consumer is DOWN — including deletion-vector
    // drift — arrive exactly once on restart
    dmlMode(table)
    Snapshots.updateWhere(spark, table, col("k") === 3L,
      Seq("v" -> (col("v") + 1)))
    val q2 = start()
    q2.processAllAvailable()
    // a compaction decomposes to ZERO change rows (content identical)
    val before = events.synchronized(events.size)
    Snapshots.compact(spark, table, numFiles = 1)
    q2.processAllAvailable(); q2.stop()
    assert(events.synchronized(events.size) == before)
    // the vector update while the consumer was down arrived as
    // a paired update
    assert(events.synchronized(events.toSet)
      .contains(("update_preimage", 3L, 30.0)))
    assert(events.synchronized(events.toSet)
      .contains(("update_postimage", 3L, 31.0)))
    // the materialized feed equals the table: inserts + postimages −
    // deletes − preimages (the standard CDF materialization)
    val net = mutable.Map[(Long, Double), Int]().withDefaultValue(0)
    events.synchronized(events.toList).foreach {
      case ("insert", k, v) => net((k, v)) += 1
      case ("update_postimage", k, v) => net((k, v)) += 1
      case ("delete", k, v) => net((k, v)) -= 1
      case ("update_preimage", k, v) => net((k, v)) -= 1
      case other => fail(s"unexpected change type $other")
    }
    assert(net.values.forall(n => n == 0 || n == 1), net.toString)
    val materialized = net.collect { case (kv, 1) => kv }.toSet
    assert(materialized ==
      Snapshots.read(spark, table).as[(Long, Double)].collect().toSet)
  }

  test("readChangeFeed streams THROUGH replace-where and truncate " +
      "commits") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("snap-cdc-rw")
    val table = s"$base/t"; val ckpt = s"$base/ckpt"
    Snapshots.append(Seq((0L, 1L), (1L, 2L)).toDF("day", "x"), table)
    val events = mutable.ArrayBuffer[(String, Long, Long)]()
    val q = spark.readStream.format("graft-snapshots")
      .option("path", table).option("readChangeFeed", "true").load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        events.synchronized {
          events ++= df.select("_change_type", "day", "x")
            .as[(String, Long, Long)].collect()
        }
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable()
    // an idempotent day-1 reload: delete+insert pairs, not a dead query
    Snapshots.replaceWhere(spark, table, col("day") === 1L,
      Seq((1L, 20L), (1L, 21L)).toDF("day", "x"))
    q.processAllAvailable()
    assert(events.synchronized(events.toSet)
      .contains(("delete", 1L, 2L)))
    assert(events.synchronized(events.toSet)
      .contains(("insert", 1L, 20L)))
    // truncate: every live row arrives as a delete
    Snapshots.truncate(spark, table)
    Snapshots.append(Seq((2L, 9L)).toDF("day", "x"), table)
    q.processAllAvailable(); q.stop()
    val net = mutable.Map[(Long, Long), Int]().withDefaultValue(0)
    events.synchronized(events.toList).foreach {
      case ("insert", d, x) => net((d, x)) += 1
      case ("delete", d, x) => net((d, x)) -= 1
      case other => fail(s"unexpected change type $other")
    }
    assert(net.values.forall(n => n == 0 || n == 1), net.toString)
    assert(net.collect { case (kv, 1) => kv }.toSet ==
      Snapshots.read(spark, table).as[(Long, Long)].collect().toSet)
  }

  test("readChangeFeed composes with maxVersionsPerTrigger and " +
      "startingVersion; refuses the file cap") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("snap-cdc-cap")
    val table = s"$base/t"
    // v1..v6 appends, v7 a merge — a capped CDC consumer drains the
    // backlog in bounded windows and still crosses the DML commit
    (1 to 6).foreach(i => Snapshots.append(Seq(i.toLong, i + 100L)
      .toDF("k").coalesce(1), table))
    Snapshots.merge(spark, table, Seq(3L, 999L).toDF("k"), Seq("k"))
    val batches = mutable.ArrayBuffer[Seq[(String, Long)]]()
    val q = spark.readStream.format("graft-snapshots")
      .option("path", table)
      .option("readChangeFeed", "true")
      .option("startingVersion", 2) // history before v3 handled elsewhere
      .option("maxVersionsPerTrigger", 2)
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        batches.synchronized {
          batches += df.select("_change_type", "k")
            .as[(String, Long)].collect().toSeq
        }
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable(); q.stop()
    val all = batches.synchronized(batches.filter(_.nonEmpty).toList)
    // 5 versions (3..7) at 2/trigger: 3 bounded batches, exactly once
    assert(all.size == 3, all.map(_.size).toString)
    val events = all.flatten
    // v3..v6 inserts + the merge's insert of 999 (3 matched: same
    // content replaces itself — diff cancels it row-level)
    assert(events.count(_._1 == "insert") >= 9)
    assert(events.contains(("insert", 999L)))
    assert(events.map(_._2).count(_ == 999L) == 1)
    // the file cap is refused in change-feed mode (file slices cannot
    // cut a row-level decomposition)
    val e = intercept[IllegalArgumentException] {
      new graft.streaming.SnapshotSourceProvider().createSource(
        spark.sqlContext, s"$base/meta2", None, "graft-snapshots",
        Map("path" -> table, "readChangeFeed" -> "true",
          "maxFilesPerTrigger" -> "2"))
    }
    assert(e.getMessage.contains("maxVersionsPerTrigger"))
  }

  test("a partial file-slice offset detects a vacuum-shifted attribution") {
    val base = Files.createTempDirectory("snap-attrib")
    val table = s"$base/t"
    // v1..v9: one file each; v10: three files AND a checkpoint (full
    // manifest — the delta chain's depth bound), so a vacuum can drop
    // every earlier version while keeping v10 readable
    (1 to 9).foreach(i => Snapshots.append(Seq(i.toLong).toDF("id"), table))
    Snapshots.append(
      spark.range(100, 130).toDF("id").repartition(3), table)
    val provider = new graft.streaming.SnapshotSourceProvider()
    val meta = Files.createTempDirectory("snap-attrib-meta").toString
    val src = provider.createSource(spark.sqlContext, meta, None,
      "graft-snapshots", Map("path" -> table, "maxFilesPerTrigger" -> "2"))
    // drive admission until the offered offset slices INTO v10
    var cur = src.getOffset
    var guard = 0
    while (cur.exists(o => !o.json.contains("#")) && guard < 20) {
      cur = src.getOffset; guard += 1
    }
    assert(cur.exists(_.json.startsWith("10#1#")), cur.map(_.json).toString)
    // pre-vacuum: the slice replays fine (attribution reproduces; the
    // guard runs at getBatch plan time, driver-side)
    assert(src.getBatch(None, cur.get).schema.fieldNames.contains("id"))
    // vacuum drops v1..v9: the retained-version walk now attributes
    // ALL files to v10 — the net file set is unchanged, so only the
    // pinned hash can catch the shifted slice indices. (force: the
    // source just created recorded its own retention floor, and this
    // test exercises exactly the operator-override scenario.)
    val (dropped, _) = Snapshots.vacuum(spark, table, keepVersions = 1,
      force = true)
    assert(dropped == 9)
    val e = intercept[IllegalStateException] {
      src.getBatch(None, cur.get)
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
  }

  test("a mid-stream RENAME fails the query rather than misbinding") {
    val base = Files.createTempDirectory("snap-src-ren")
    val table = s"$base/t"
    Snapshots.append(spark.range(5).toDF("id"), table)
    val got = mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format("graft-snapshots")
      .option("path", table).load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        got.synchronized { got ++= df.select("id").as[Long].collect() }
        ()
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    q.processAllAvailable()
    assert(got.size == 5)
    Snapshots.renameColumn(spark, table, "id", "ident")
    Snapshots.append(spark.range(5, 9).toDF("ident"), table)
    val ex = intercept[StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    assert(ex.getCause.getMessage.contains("changed schema mid-stream"))
  }

  test("a rewritten history fails the stream rather than lying") {
    val base = Files.createTempDirectory("snap-src-rw")
    val table = s"$base/t"
    Snapshots.append(spark.range(50).toDF(), table)
    val got = mutable.ArrayBuffer[Long]()
    val q = startCollecting(table, s"$base/ckpt", got)
    q.processAllAvailable()
    assert(got.size == 50)
    Snapshots.append(spark.range(50, 60).toDF(), table)
    Snapshots.compact(spark, table, numFiles = 1) // rewrites history
    val ex = intercept[StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    assert(ex.getCause.getMessage.contains("rewritten"))
  }

  test("a deletion-vector commit mid-stream fails the query, not the data") {
    val base = Files.createTempDirectory("snap-src-dv")
    val table = s"$base/t"
    Snapshots.append(spark.range(50).toDF(), table)
    val got = mutable.ArrayBuffer[Long]()
    val q = startCollecting(table, s"$base/ckpt", got)
    q.processAllAvailable()
    assert(got.size == 50)
    Snapshots.append(spark.range(50, 60).toDF(), table)
    // a vector delete changes base-file CONTENT without changing the
    // file list — an append-only consumer can no longer be correct
    dmlMode(table)
    Snapshots.deleteWhere(spark, table,
      org.apache.spark.sql.functions.col("id") === 3L)
    val ex = intercept[StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    assert(ex.getCause.getMessage.contains("deletion vectors"))
  }

  test("vacuum refuses to drop versions a checkpointed stream still " +
      "needs; proceeds once it advances") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("snap-floor")
    val table = s"$base/t"; val ckpt = s"$base/ckpt"
    Snapshots.append(Seq((1L, 1.0)).toDF("k", "v"), table) // v1
    Snapshots.append(Seq((2L, 2.0)).toDF("k", "v"), table) // v2
    def run(expectFloor: Int): Unit = {
      val q = spark.readStream.format("graft-snapshots")
        .option("path", table).option("readChangeFeed", "true").load()
        .writeStream
        .foreachBatch { (df: DataFrame, _: Long) => df.count(); () }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .start()
      q.processAllAvailable()
      // Source.commit fires at the NEXT trigger's cleanup — poll
      // briefly for the floor marker instead of racing it
      val deadline = System.currentTimeMillis() + 20000
      while (Snapshots.consumerFloors(spark, table).map(_.version)
          .headOption.getOrElse(-1) < expectFloor &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      q.stop()
    }
    run(0) // batch (None→2]: floor stays 0 — a restart replays it all
    assert(Snapshots.consumerFloors(spark, table).map(_.version) ==
      Seq(0))
    Snapshots.overwrite(Seq((3L, 3.0)).toDF("k", "v"), table) // v3, full
    run(2) // batch (2→3]: start=2 is committed — floor advances to 2
    assert(Snapshots.consumerFloors(spark, table).map(_.version) ==
      Seq(2))
    // full-manifest commits make the old versions genuinely droppable
    (4 to 5).foreach(i =>
      Snapshots.overwrite(Seq((i.toLong, i * 1.0)).toDF("k", "v"), table))
    // the stream is DOWN and lagging at v2: a keep-2 vacuum would
    // drop v2 — refused, with the consumer named
    val e = intercept[IllegalStateException] {
      Snapshots.vacuum(spark, table, keepVersions = 2)
    }
    assert(e.getMessage.contains("consumers") &&
      e.getMessage.contains("v2"), e.getMessage)
    assert(Snapshots.versions(spark, table) == Seq(1, 2, 3, 4, 5))
    // the stream catches up: batch (3→5] advances the floor to 3,
    // and one more commit + run advances it past the old history
    run(3)
    Snapshots.overwrite(Seq((6L, 6.0)).toDF("k", "v"), table) // v6, full
    run(5) // batch (5→6]: floor = 5
    assert(Snapshots.consumerFloors(spark, table).map(_.version) == Seq(5))
    val (dropped, _) = Snapshots.vacuum(spark, table, keepVersions = 2)
    assert(dropped == 4, dropped.toString) // v1..v4 drop; {5,6} stay
    assert(Snapshots.versions(spark, table) == Seq(5, 6))
    // maintain CLIPS instead of refusing: with the floor at 5, a
    // keep-1 maintain retains v5 and reports no error
    val r = Snapshots.maintain(spark, table, keepVersions = 1)
    assert(Snapshots.versions(spark, table).contains(5),
      Snapshots.versions(spark, table).toString)
    assert(r != null)
    // clearing the marker removes the floor and the keep-1 vacuum
    // then drops v5
    assert(Snapshots.clearConsumerFloor(spark, table,
      Snapshots.consumerFloors(spark, table).head.id))
    assert(Snapshots.consumerFloors(spark, table).isEmpty)
    val (d2, _) = Snapshots.vacuum(spark, table, keepVersions = 1)
    assert(d2 >= 1)
    assert(Snapshots.versions(spark, table) == Seq(6))
  }

  test("floor 0 protects FULL history (changeFeed from 0 never fails " +
      "loudly); clip mode widens instead of erroring") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("snap-floor0")
    val table = s"$base/t"
    Snapshots.append(Seq((1L, 1.0)).toDF("k", "v"), table)   // v1
    Snapshots.overwrite(Seq((2L, 2.0)).toDF("k", "v"), table) // v2, full
    // a fresh stream that never committed a batch sits at floor 0 —
    // vacuuming ANY version would silently change its first replayed
    // batch (changeFeed(from = 0) always passes its retention check)
    Snapshots.recordConsumerFloor(spark, table, "fresh-stream", 0)
    val e = intercept[IllegalStateException] {
      Snapshots.vacuum(spark, table, keepVersions = 1)
    }
    assert(e.getMessage.contains("fresh-stream"), e.getMessage)
    assert(Snapshots.versions(spark, table) == Seq(1, 2))
    // automated maintenance clips: keeps everything, no error
    assert(Snapshots.vacuum(spark, table, keepVersions = 1,
      clipToConsumers = true) == ((0, 0)))
    assert(Snapshots.versions(spark, table) == Seq(1, 2))
    // cleared marker: the keep-1 vacuum proceeds
    assert(Snapshots.clearConsumerFloor(spark, table, "fresh-stream"))
    assert(Snapshots.vacuum(spark, table, keepVersions = 1)._1 == 1)
    assert(Snapshots.versions(spark, table) == Seq(2))
  }

  test("a checkpoint re-created at the same path with an earlier " +
      "start LOWERS a stale floor; orphaned temp markers are not floors") {
    val base = Files.createTempDirectory("snap-floor-lower")
    val table = s"$base/t"; val meta = s"$base/ckpt/sources/0"
    (1 to 4).foreach(i =>
      Snapshots.append(Seq((i.toLong, 1.0)).toDF("k", "v"), table))
    val provider = new graft.streaming.SnapshotSourceProvider()
    // source CONSTRUCTION is what records/adopts the floor — no
    // batches need to run to observe the adoption rule
    def mk(sv: Int): Unit = {
      provider.createSource(spark.sqlContext, meta, None,
        "graft-snapshots",
        Map("path" -> table, "startingVersion" -> sv.toString))
      ()
    }
    def floors = Snapshots.consumerFloors(spark, table).map(_.version)
    mk(3) // fresh query: its replay base v3 is the floor
    assert(floors == Seq(3))
    // operator error: checkpoint deleted, re-created at the SAME
    // metadataPath from startingVersion 1 — adopting the stale floor
    // (3) would leave this run's replay base v1..v3 unprotected from
    // vacuum. Construction must LOWER the marker.
    mk(1)
    assert(floors == Seq(1), s"stale floor survived: $floors")
    // a restart whose start sits at-or-above the marker ADOPTS it
    // (the marker is the committed replay base; the sizing start may
    // be ahead of it and must not raise the floor)
    mk(2)
    assert(floors == Seq(1))
    // a crash-orphaned in-flight temp marker is NOT a floor
    val tmp = new java.io.File(s"$table/_consumers/.deadbeef.tmp42")
    java.nio.file.Files.write(tmp.toPath, "0\t".getBytes("UTF-8"))
    assert(Snapshots.consumerFloors(spark, table).map(_.id)
      .forall(!_.startsWith(".")), "temp marker listed as a floor")
    assert(floors == Seq(1))
  }
}
