package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.functions._

import graft.ops.{CommitCoordinator, HardLinkCommitCoordinator, Snapshots}

/** Streaming-write contract of the snapshot sink
  * (`writeStream.format("graft-snapshots")`): micro-batches commit as
  * snapshot versions exactly-once (replayed epochs are no-ops), a
  * source→sink chain composes a multi-stage exactly-once pipeline with
  * no hand-written foreachBatch, and Complete mode replaces the table
  * per epoch instead of appending. */
class SnapshotSinkSpec extends SparkSpec {
  import spark.implicits._

  test("source -> sink chain delivers exactly-once across a restart") {
    val base = Files.createTempDirectory("snap-sink")
    val src = s"$base/src"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
    (1 to 3).foreach(i => Snapshots.append(Seq(i.toLong).toDF("id"), src))
    def run() = spark.readStream.format("graft-snapshots")
      .option("path", src).load()
      .select(col("id"), (col("id") * 10).as("x10"))
      .writeStream.format("graft-snapshots")
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val q1 = run(); q1.processAllAvailable(); q1.stop()
    val afterFirst = Snapshots.read(spark, dst)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(afterFirst == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // restart with more upstream versions: only the delta lands, once
    (4 to 5).foreach(i => Snapshots.append(Seq(i.toLong).toDF("id"), src))
    val q2 = run(); q2.processAllAvailable(); q2.stop()
    val all = Snapshots.read(spark, dst)
      .orderBy("id").as[(Long, Long)].collect().toSeq
    assert(all == (1 to 5).map(i => (i.toLong, i * 10L)))
  }

  test("a replayed epoch is a no-op: no duplicate versions or rows") {
    val base = Files.createTempDirectory("snap-sink-replay")
    val dst = s"$base/dst"
    val sink = new graft.streaming.SnapshotSink(dst, "w1", complete = false)
    val batch = Seq(1L, 2L).toDF("id")
    sink.addBatch(0L, batch)
    val v1 = Snapshots.currentVersion(spark, dst)
    sink.addBatch(0L, batch) // Spark replays epoch 0 after a crash
    assert(Snapshots.currentVersion(spark, dst) == v1)
    assert(Snapshots.read(spark, dst).count() == 2)
    sink.addBatch(1L, Seq(3L).toDF("id"))
    assert(Snapshots.read(spark, dst).count() == 3)
  }

  test("Complete mode replaces table content per epoch") {
    val base = Files.createTempDirectory("snap-sink-complete")
    val src = s"$base/src"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
    Snapshots.append(Seq(1L, 1L, 2L).toDF("id"), src)
    def run() = spark.readStream.format("graft-snapshots")
      .option("path", src).load()
      .groupBy("id").agg(count(lit(1)).as("n"))
      .writeStream.format("graft-snapshots")
      .outputMode(OutputMode.Complete())
      .option("path", dst)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val q1 = run(); q1.processAllAvailable(); q1.stop()
    assert(Snapshots.read(spark, dst).orderBy("id")
      .as[(Long, Long)].collect().toSeq == Seq((1L, 2L), (2L, 1L)))
    Snapshots.append(Seq(1L, 3L).toDF("id"), src)
    val q2 = run(); q2.processAllAvailable(); q2.stop()
    // the table IS the latest aggregate, not an append log of them
    assert(Snapshots.read(spark, dst).orderBy("id")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 3L), (2L, 1L), (3L, 1L)))
  }

  test("Update mode with mergeKeys upserts each epoch exactly-once") {
    val base = Files.createTempDirectory("snap-sink-upd")
    val src = s"$base/src"; val dst = s"$base/dst"; val ckpt = s"$base/ckpt"
    // seed the destination, then stream upserts keyed on k
    Snapshots.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dst)
    Snapshots.append(Seq((2L, "B2"), (3L, "C")).toDF("k", "v"), src)
    def run() = spark.readStream.format("graft-snapshots")
      .option("path", src).load()
      .writeStream.format("graft-snapshots")
      .outputMode(OutputMode.Update())
      .option("path", dst)
      .option("mergeKeys", "k")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val q1 = run(); q1.processAllAvailable(); q1.stop()
    assert(Snapshots.read(spark, dst).orderBy("k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B2"), (3L, "C")))
    // restart + more upstream: only the delta merges, once
    Snapshots.append(Seq((1L, "A3"), (9L, "I")).toDF("k", "v"), src)
    val q2 = run(); q2.processAllAvailable(); q2.stop()
    assert(Snapshots.read(spark, dst).orderBy("k")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "A3"), (2L, "B2"), (3L, "C"), (9L, "I")))
  }

  test("idempotentMerge skips replayed epochs, retries past CAS races") {
    val base = Files.createTempDirectory("snap-idem-merge")
    val dst = s"$base/t"
    Snapshots.append(Seq((1L, "a")).toDF("k", "v"), dst)
    val batch = Seq((1L, "A"), (2L, "B")).toDF("k", "v")
    val r1 = Snapshots.idempotentMerge(spark, dst, batch, Seq("k"), "w", 0L)
    assert(r1.isDefined)
    // replay of epoch 0: recognized, no new version
    val vAfter = Snapshots.currentVersion(spark, dst)
    assert(Snapshots.idempotentMerge(spark, dst, batch, Seq("k"), "w", 0L)
      .isEmpty)
    assert(Snapshots.currentVersion(spark, dst) == vAfter)
    assert(Snapshots.read(spark, dst).orderBy("k")
      .as[(Long, String)].collect().toSeq == Seq((1L, "A"), (2L, "B")))
  }

  test("a replayed exactly-once batch that races itself lands once") {
    // the race is injected: just before the batch's first manifest
    // publishes, the same (writerId, batchId) lands through a second
    // call, so the first call's CAS loses to its own replay
    def raced[A](replay: => Any)(body: => A): A = {
      val fired = new AtomicBoolean(false)
      Snapshots.setCommitCoordinator("file", new CommitCoordinator {
        override def publish(fs: FileSystem, target: HPath,
            bytes: Array[Byte]): Boolean = {
          if (new String(bytes, "UTF-8").contains("#commit writer=w batch=7")
              && fired.compareAndSet(false, true)) replay
          HardLinkCommitCoordinator.publish(fs, target, bytes)
        }
      })
      try body finally Snapshots.clearCommitCoordinator("file")
    }
    val batch = Seq((2L, "b"), (3L, "c")).toDF("k", "v")
    val verbs: Seq[(String, String => Option[Any], Seq[Long])] = Seq(
      ("idempotentAppend",
        d => Snapshots.idempotentAppend(batch, d, "w", 7L), Seq(1L, 2L, 3L)),
      ("idempotentOverwrite",
        d => Snapshots.idempotentOverwrite(batch, d, "w", 7L), Seq(2L, 3L)),
      ("idempotentMerge",
        d => Snapshots.idempotentMerge(spark, d, batch, Seq("k"), "w", 7L),
        Seq(1L, 2L, 3L)))
    verbs.foreach { case (verb, run, keys) =>
      val dst = s"${Files.createTempDirectory("snap-replay")}/t"
      Snapshots.append(Seq((1L, "a")).toDF("k", "v"), dst)
      val r = raced(run(dst))(run(dst))
      assert(r.isEmpty, s"$verb: the losing call must report the replay")
      assert(Snapshots.versions(spark, dst) == Seq(1, 2), verb)
      assert(Snapshots.read(spark, dst).orderBy("k").select("k").as[Long]
        .collect().toSeq == keys, verb)
    }
  }

  test("Update mode without mergeKeys is rejected") {
    val ex = intercept[IllegalArgumentException] {
      new graft.streaming.SnapshotSourceProvider().createSink(
        spark.sqlContext, Map("path" -> "/tmp/x", "writerId" -> "w"),
        Nil, OutputMode.Update())
    }
    assert(ex.getMessage.contains("mergeKeys"))
  }

  test("sink requires a stable writer identity and rejects partitionBy") {
    val base = Files.createTempDirectory("snap-sink-req")
    val src = s"$base/src"
    Snapshots.append(Seq(1L).toDF("id"), src)
    val ex = intercept[IllegalArgumentException] {
      new graft.streaming.SnapshotSourceProvider().createSink(
        spark.sqlContext, Map("path" -> s"$base/dst"), Nil,
        OutputMode.Append())
    }
    assert(ex.getMessage.contains("writerId"))
    val ex2 = intercept[IllegalArgumentException] {
      new graft.streaming.SnapshotSourceProvider().createSink(
        spark.sqlContext, Map("path" -> s"$base/dst", "writerId" -> "w"),
        Seq("id"), OutputMode.Append())
    }
    assert(ex2.getMessage.contains("partitionBy"))
  }
}
