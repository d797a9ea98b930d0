package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Model-based randomized testing of the snapshot DML surface: a fixed-seed
  * random sequence of append / overwrite / merge / deleteWhere /
  * updateWhere (each under a randomly flipped `dml.mode`: copy-on-write
  * or deletion vectors) / deleteMatching / compact /
  * optimize / restore / clone runs against both the real table and a
  * driver-side model (a Map keyed like the table); after EVERY op the real
  * read must equal the model, and at the end every recorded historical
  * version must still read back exactly — the interaction coverage
  * (delta chains × checkpoints × removes × restores) no hand-written
  * case list reaches. */
class SnapshotModelSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_model").toFile.toString + "/t"

  private type Model = Map[Long, (Long, Double)] // id -> (id, v)

  private def toDf(m: Seq[(Long, Double)]) = m.toDF("id", "v")

  private def readBack(root: String): Set[(Long, Double)] =
    Snapshots.read(spark, root).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet

  test("random op sequences agree with the model at every step (seed 42)") {
    val rnd = new Random(42)
    val root = freshRoot()
    var model: Model = Map.empty
    // version -> model snapshot at that version, for end-of-run time travel
    var history = Map.empty[Int, Model]
    def batch(n: Int): Seq[(Long, Double)] =
      Seq.fill(n)((rnd.nextInt(40).toLong, (rnd.nextInt(1000) / 4.0)))
        .groupBy(_._1).map(_._2.head).toSeq // key-unique within a batch
    Snapshots.append(toDf(batch(6)
      .map { case (k, v) => (k, v) }), root) match {
      case v =>
        model = readBack(root).map(r => r._1 -> r).toMap // seed from real
        history += v -> model
    }
    // the DML mode flip is a metadata commit: a version of the model too
    def mode(mor: Boolean): Unit = history += dmlMode(root, mor) -> model
    (1 to 34).foreach { step =>
      val op = rnd.nextInt(14)
      op match {
        case 0 | 1 | 2 => // append (may duplicate keys: multiset-free test
          // frame is keyed, so appends use fresh negative keys instead)
          val fresh = batch(4).map { case (k, v) => (-(step * 100 + k), v) }
          val ver = Snapshots.append(toDf(fresh), root)
          model = model ++ fresh.map(r => r._1 -> r)
          history += ver -> model
        case 3 | 4 => // merge: update-or-insert on id — randomly
          // copy-on-write or deletion-vector; identical semantics
          val src = batch(5)
          mode(mor = !rnd.nextBoolean())
          val ver = Snapshots.merge(spark, root, toDf(src), Seq("id")).version
          model = model ++ src.map(x => x._1 -> x)
          history += ver -> model
        case 5 | 6 => // delete a key range — randomly copy-on-write or
          // deletion-vector: identical semantics, one model tracks both
          val lo = rnd.nextInt(40).toLong
          val hi = lo + rnd.nextInt(10)
          val pred = col("id") >= lo && col("id") <= hi
          mode(mor = !rnd.nextBoolean())
          val ver = Snapshots.deleteWhere(spark, root, pred).version
          model = model.filterNot { case (k, _) => k >= lo && k <= hi }
          history += ver -> model
        case 7 => // content-identical maintenance
          val ver =
            if (rnd.nextBoolean()) Snapshots.compact(spark, root, 2)
            else Snapshots.optimize(spark, root, Seq("id", "v"), 3)
          history += ver -> model
        case 8 => // overwrite with a fresh small state
          val next = batch(3)
          val ver = Snapshots.overwrite(toDf(next), root)
          model = next.map(r => r._1 -> r).toMap
          history += ver -> model
        case 9 => // restore a random retained version
          val vs = Snapshots.versions(spark, root)
          val target = vs(rnd.nextInt(vs.size))
          val ver = Snapshots.restore(spark, root, target)
          model = history(target)
          history += ver -> model
        case 10 => // UPDATE on a key range — randomly copy-on-write or
          // deletion-vector: identical semantics, one model tracks both
          val lo = rnd.nextInt(40).toLong
          val hi = lo + rnd.nextInt(10)
          val bump = rnd.nextInt(100) * 1.0
          val pred = col("id") >= lo && col("id") <= hi
          val assigns = Seq("v" -> (col("v") + bump))
          val mor = !rnd.nextBoolean()
          mode(mor)
          val r = Snapshots.updateWhere(spark, root, pred, assigns)
          val (ver, changed) =
            if (!mor) (r.version, r.rewrittenFiles > 0)
            else (r.version, r.updatedRows > 0 || r.droppedFiles > 0)
          model = model.map { case (k, (id, v)) =>
            if (k >= lo && k <= hi) k -> (id, v + bump) else k -> (id, v)
          }
          // no-match updates commit nothing: only record real versions
          if (changed) history += ver -> model
        case 11 => // CDC tombstones: delete-by-key-frame
          val present = model.keys.toSeq
          val hits =
            if (present.isEmpty) Nil
            else Seq.fill(rnd.nextInt(4))(
              present(rnd.nextInt(present.size)))
          val misses = Seq.fill(rnd.nextInt(3))(9000L + rnd.nextInt(50))
          val ts = (hits ++ misses).distinct
          if (ts.nonEmpty) {
            val r = Snapshots.deleteMatching(spark, root,
              ts.toDF("id"), Seq("id"))
            model = model -- hits
            if (r.rewrittenFiles > 0) history += r.version -> model
          }
        case 12 => // scoped overwrite: replace a key range with a
          // fresh in-scope load (the idempotent-backfill verb)
          val lo = rnd.nextInt(40).toLong
          val hi = lo + rnd.nextInt(10)
          val load = Seq.fill(rnd.nextInt(4))(
            ((lo + rnd.nextInt((hi - lo + 1).toInt)),
              rnd.nextInt(1000) / 4.0))
            .groupBy(_._1).map(_._2.head).toSeq
            .map { case (k, v) => (k.toLong, v) }
          val r = Snapshots.replaceWhere(spark, root,
            col("id") >= lo && col("id") <= hi, toDf(load))
          model = model.filterNot { case (k, _) => k >= lo && k <= hi } ++
            load.map(x => x._1 -> x)
          history += r.version -> model
        case 13 => // truncate: rows leave, the table (and history) stays
          val ver = Snapshots.truncate(spark, root)
          model = Map.empty
          history += ver -> model
      }
      assert(readBack(root) == model.values.toSet,
        s"divergence after step $step (op $op)")
    }
    // every retained version still reads exactly its recorded state
    history.foreach { case (v, m) =>
      val got = Snapshots.read(spark, root, v).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == m.values.toSet, s"time travel to v$v diverged")
    }
    // and the audit is clean: nothing missing, nothing corrupted
    val bad = Snapshots.audit(spark, root).collect()
      .filter(r => r.getString(1) == "missing" ||
        r.getString(1) == "size_mismatch")
    assert(bad.isEmpty, s"audit: ${bad.toSeq}")
  }

  test("random keyed DML incl. mergeMixed and updateMatching agrees " +
      "with the model at every step (seed 5)") {
    val rnd = new Random(5)
    val root = freshRoot()
    def batch(n: Int): Seq[(Long, Double)] =
      Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(1000) / 4.0))
        .groupBy(_._1).map(_._2.head).toSeq
    Snapshots.append(toDf(batch(12)), root)
    var model: Model = readBack(root).map(r => r._1 -> r).toMap
    def someKeys(n: Int): Seq[Long] = {
      val present = model.keys.toSeq
      val hits =
        if (present.isEmpty) Nil
        else Seq.fill(rnd.nextInt(n + 1))(present(rnd.nextInt(present.size)))
      (hits :+ (9000L + rnd.nextInt(50))).distinct
    }
    var drawn = Set.empty[Int]
    (1 to 30).foreach { step =>
      val op = rnd.nextInt(9)
      drawn += op
      op match {
        case 0 =>
          val fresh = batch(4).map { case (k, v) => (-(step * 100 + k), v) }
          Snapshots.append(toDf(fresh), root)
          model ++= fresh.map(r => r._1 -> r)
        case 1 => // upsert half plus a disjoint tombstone half, one commit
          val src = batch(4)
          val dead = someKeys(3).filterNot(k => src.exists(_._1 == k))
          Snapshots.mergeMixed(spark, root, toDf(src), Seq("id"),
            dead.toDF("id"))
          model = model -- dead ++ src.map(x => x._1 -> x)
        case 2 | 3 => // assignments on the rows a key frame names
          val ks = someKeys(4)
          val bump = rnd.nextInt(100) * 1.0
          Snapshots.updateMatching(spark, root, ks.toDF("id"), Seq("id"),
            Seq("v" -> (col("v") + bump)))
          model = model.map { case (k, (id, v)) =>
            k -> (if (ks.contains(k)) (id, v + bump) else (id, v))
          }
        case 4 =>
          val src = batch(5)
          dmlMode(root, mor = !rnd.nextBoolean())
          Snapshots.merge(spark, root, toDf(src), Seq("id"))
          model ++= src.map(x => x._1 -> x)
        case 5 =>
          val lo = rnd.nextInt(40).toLong
          val pred = col("id") >= lo && col("id") <= lo + 4
          dmlMode(root, mor = !rnd.nextBoolean())
          Snapshots.deleteWhere(spark, root, pred)
          model = model.filterNot { case (k, _) => k >= lo && k <= lo + 4 }
        case 6 =>
          val lo = rnd.nextInt(40).toLong
          val pred = col("id") >= lo && col("id") <= lo + 6
          val assigns = Seq("v" -> (col("v") * 2.0))
          dmlMode(root, mor = !rnd.nextBoolean())
          Snapshots.updateWhere(spark, root, pred, assigns)
          model = model.map { case (k, (id, v)) =>
            k -> (if (k >= lo && k <= lo + 6) (id, v * 2.0) else (id, v))
          }
        case 7 =>
          val dead = someKeys(3)
          Snapshots.deleteMatching(spark, root, dead.toDF("id"), Seq("id"))
          model --= dead
        case 8 =>
          Snapshots.compact(spark, root, 2)
      }
      assert(readBack(root) == model.values.toSet,
        s"divergence after step $step (op $op)")
    }
    assert(drawn(1) && (drawn(2) || drawn(3)),
      s"the run must draw mergeMixed and updateMatching: $drawn")
  }

  test("a replica follows a random source op+DDL sequence exactly " +
      "(seed 11)") {
    val rnd = new Random(11)
    val src = freshRoot(); val dst = freshRoot()
    // third column appears/renames/disappears mid-run: `extra` tracks
    // its CURRENT name so DML frames always match the live schema
    var extra: Option[String] = None
    def frame(rows: Seq[(Long, Double)]) = {
      val base = rows.toDF("id", "v")
      extra.fold(base)(c =>
        base.withColumn(c, col("v") * 2 + 1))
    }
    def stateOf(root: String): Set[Seq[Any]] = {
      val df = Snapshots.read(spark, root)
      df.select(df.columns.sorted.map(col).toSeq: _*)
        .collect().map(_.toSeq).toSet
    }
    def batch(n: Int): Seq[(Long, Double)] =
      Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(1000) / 4.0))
        .groupBy(_._1).map(_._2.head).toSeq
    Snapshots.append(frame((0L until 20L).map(i => (i, i / 2.0))), src)
    Snapshots.replicate(spark, src, dst, Seq("id"))
    (1 to 16).foreach { step =>
      rnd.nextInt(12) match {
        case 0 | 1 =>
          Snapshots.append(frame(batch(3)
            .map { case (k, x) => (-(step * 100 + k), x) }), src)
        case 2 =>
          Snapshots.merge(spark, src, frame(batch(4)), Seq("id"))
        case 3 =>
          val lo = rnd.nextInt(40).toLong
          val pred = col("id") >= lo && col("id") <= lo + 5
          // a vector delete flips the mode on and back off: the
          // merges and updates of this run stay copy-on-write
          val mor = !rnd.nextBoolean()
          if (mor) dmlMode(src)
          Snapshots.deleteWhere(spark, src, pred)
          if (mor) dmlMode(src, mor = false)
        case 4 =>
          val lo = rnd.nextInt(40).toLong
          Snapshots.updateWhere(spark, src,
            col("id") >= lo && col("id") <= lo + 5,
            Seq("v" -> (col("v") + 10.0)))
        case 5 =>
          if (rnd.nextBoolean()) Snapshots.compact(spark, src, 2)
          else Snapshots.optimize(spark, src, Seq("id"), 2)
        case 6 =>
          Snapshots.deleteMatching(spark, src,
            Seq.fill(3)(rnd.nextInt(40).toLong).distinct.toDF("id"),
            Seq("id"))
        case 7 =>
          val lo = rnd.nextInt(40).toLong
          Snapshots.replaceWhere(spark, src,
            col("id") >= lo && col("id") <= lo + 5,
            frame(batch(2).collect {
              case (k, x) if k >= lo && k <= lo + 5 => (k, x)
            }))
        case 8 =>
          Snapshots.truncate(spark, src)
        case 9 => // DDL: the third column arrives (with a default)
          if (extra.isEmpty) {
            Snapshots.addColumn(spark, src, s"c$step",
              org.apache.spark.sql.types.DoubleType, Some("7.5"))
            extra = Some(s"c$step")
          }
        case 10 => // DDL: ... renames ...
          extra.foreach { c =>
            Snapshots.renameColumn(spark, src, c, s"r$step")
            extra = Some(s"r$step")
          }
        case 11 => // DDL: ... and leaves (dropped names are burned —
          // later adds pick fresh step-suffixed names)
          extra.foreach { c =>
            Snapshots.dropColumn(spark, src, c)
            extra = None
          }
      }
      // replicate roughly every other step: windows cover one op and
      // multi-op mixes, with DDL landing mid-window either way
      if (rnd.nextBoolean()) {
        Snapshots.replicate(spark, src, dst, Seq("id"))
        assert(stateOf(dst) == stateOf(src),
          s"replica diverged after step $step")
      }
    }
    Snapshots.replicate(spark, src, dst, Seq("id"))
    assert(stateOf(dst) == stateOf(src), "final replica state diverged")
  }

  test("model run survives interleaved clones, tags and vacuum (seed 7)") {
    val rnd = new Random(7)
    val root = freshRoot()
    Snapshots.append(
      (0L until 20L).map(i => (i, i / 2.0)).toDF("id", "v"), root)
    var model: Set[(Long, Double)] = readBack(root)
    // every tag records the model AT tagging time: the end-of-run
    // check proves each tagged snapshot reads back exactly, however
    // many vacuums ran after it
    var taggedStates = Map.empty[String, Set[(Long, Double)]]
    (1 to 14).foreach { step =>
      rnd.nextInt(5) match {
        case 0 =>
          val fresh = Seq((-step.toLong, step * 1.5))
          Snapshots.append(toDf(fresh), root)
          model = model ++ fresh
        case 1 =>
          val k = rnd.nextInt(20).toLong
          Snapshots.deleteWhere(spark, root, col("id") === k)
          model = model.filterNot(_._1 == k)
        case 2 => // a clone is an independent branch: mutating it must
          // never affect the source
          val dst = freshRoot()
          Snapshots.shallowClone(spark, root, dst)
          Snapshots.append(toDf(Seq((9999L, 1.0))), dst)
          Snapshots.deleteWhere(spark, dst, col("id") >= 0L)
          assert(readBack(root) == model, s"clone mutated source, step $step")
        case 3 =>
          // a dry run decides like the real sweep but mutates nothing
          val before = Snapshots.versions(spark, root)
          Snapshots.vacuum(spark, root, keepVersions = 3, dryRun = true)
          assert(Snapshots.versions(spark, root) == before,
            s"dry run mutated history, step $step")
          Snapshots.vacuum(spark, root, keepVersions = 3)
        case 4 =>
          val name = s"t$step"
          Snapshots.createTag(spark, root, name)
          taggedStates += name -> model
      }
      assert(readBack(root) == model, s"divergence after step $step")
    }
    // every tagged snapshot survived every later vacuum and reads
    // back exactly the state it named
    taggedStates.foreach { case (name, expect) =>
      val v = Snapshots.versionOfTag(spark, root, name).getOrElse(
        fail(s"tag $name vanished"))
      val got = Snapshots.read(spark, root, v).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == expect, s"tag $name drifted")
    }
  }

  test("CONCURRENT writers on one table: per-thread random verb " +
      "sequences over disjoint key ranges end at the union of models") {
    // the 30-line check that would have caught the local-filesystem
    // commit-CAS clobber years early: three threads interleave
    // append / merge / deleteMatching / copyInto on ONE table; every
    // op's keys stay inside the thread's own range, so the ops
    // commute and the final table must equal the union of the three
    // driver-side models — a silently lost commit shows up as
    // missing rows, a doubled one as extras
    val root = freshRoot()
    Snapshots.createTable(spark, root,
      Seq((1L, 1.0)).toDF("id", "v").schema)
    val threads = 3
    val steps = 8
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val models = new Array[Map[Long, (Long, Double)]](threads)
    val start = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.CountDownLatch(threads)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    (0 until threads).foreach { w =>
      pool.execute { () =>
        try {
          start.await()
          val rnd = new Random(1000 + w)
          var model = Map.empty[Long, (Long, Double)]
          val base = (w + 1) * 100000L
          var seq = 0L
          def fresh(n: Int): Seq[Long] =
            (0 until n).map { _ => seq += 1; base + seq }
          def rows(ks: Seq[Long]): Seq[(Long, Double)] =
            ks.map(k => (k, rnd.nextInt(1000) / 4.0))
          (1 to steps).foreach { _ =>
            rnd.nextInt(5) match {
              case 0 | 1 =>
                val b = rows(fresh(5))
                Snapshots.append(toDf(b), root)
                model ++= b.map(r => r._1 -> r)
              case 2 =>
                val ks = rnd.shuffle(model.keys.toSeq).take(3) ++ fresh(2)
                val b = rows(ks)
                Snapshots.merge(spark, root, toDf(b), Seq("id"))
                model ++= b.map(r => r._1 -> r)
              case 3 if model.nonEmpty =>
                val victims = rnd.shuffle(model.keys.toSeq).take(2)
                Snapshots.deleteMatching(spark, root,
                  victims.toDF("id"), Seq("id"))
                model --= victims
              case _ =>
                val b = rows(fresh(4))
                val src = Files.createTempDirectory(s"graft_model_cc$w")
                  .toFile.toString + "/in"
                toDf(b).coalesce(1).write.parquet(src)
                Snapshots.copyInto(spark, root, src)
                model ++= b.map(r => r._1 -> r)
            }
          }
          models(w) = model
        } catch { case t: Throwable => errs.add(t) }
        finally done.countDown()
      }
    }
    start.countDown()
    assert(done.await(600, java.util.concurrent.TimeUnit.SECONDS),
      "writers hung")
    pool.shutdownNow()
    assert(errs.isEmpty, s"a writer failed: ${Option(errs.peek())}")
    val want = models.toSeq.flatMap(_.values).toSet
    val got = readBack(root)
    assert(got == want,
      s"final state diverged from the union of models: " +
        s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }
}
