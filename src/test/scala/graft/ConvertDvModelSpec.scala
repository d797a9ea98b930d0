package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Randomized endurance for the round-14 risk surface: a CONVERTED
  * hive-partitioned table (repeated part-file basenames, path-borne
  * partition column) takes an interleaved fixed-seed sequence of
  * row-level (deletion-vector) verbs, copy-on-write DML (the DML mode
  * flipped before each verb), appends and
  * maintenance rewrites — and must equal the driver-side model after
  * every step. A DV masking the wrong file (the basename-ambiguity
  * class the path keying removes), a mis-decoded partition value, or
  * a rewrite resurrecting vectored rows all diverge immediately. */
class ConvertDvModelSpec extends SparkSpec {
  import spark.implicits._

  test("fixed-seed interleaving of DV verbs / CoW DML / appends / " +
      "rewrites on a converted partitioned table equals the model at " +
      "every step") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cdvm")
      .toFile.toString + "/t"
    val rng = new Random(1107)
    // the driver-side model: id -> (partition, value)
    val model = scala.collection.mutable.Map[Long, (Int, String)]()
    def rows(ids: Seq[Long], tag: String): Seq[(Long, String, Int)] =
      ids.map(i => (i, s"$tag-$i", (i % 4).toInt))

    // seed a partitioned layout and convert it in place
    val seed = rows(1L to 400L, "s")
    seed.toDF("id", "v", "p").write.partitionBy("p").parquet(dir)
    seed.foreach { case (i, v, p) => model(i) = (p, v) }
    Snapshots.convert(spark, dir)

    var nextId = 401L
    def liveIds: Vector[Long] = model.keys.toVector.sorted
    def check(step: String): Unit = {
      val got = Snapshots.read(spark, dir)
        .select("id", "v", "p").collect()
        .map(r => r.getLong(0) -> ((r.getInt(2), r.getString(1)))).toMap
      assert(got == model.toMap,
        s"divergence after $step: extra=${(got.keySet -- model.keySet).take(5)} " +
          s"missing=${(model.keySet -- got.keySet).take(5)} " +
          s"changed=${got.collect { case (k, x) if model.get(k).exists(_ != x) => k }.take(5)}")
    }

    (1 to 24).foreach { step =>
      rng.nextInt(7) match {
        case 0 => // DV delete of a scattered id set
          val targets = rng.shuffle(liveIds).take(1 + rng.nextInt(8))
          dmlMode(dir)
          Snapshots.deleteWhere(spark, dir,
            col("id").isin(targets: _*))
          targets.foreach(model.remove)
        case 1 => // DV update: retag a few rows (id keys stay)
          val targets = rng.shuffle(liveIds).take(1 + rng.nextInt(5))
          dmlMode(dir)
          Snapshots.updateWhere(spark, dir,
            col("id").isin(targets: _*),
            Seq("v" -> concat(lit(s"u$step-"), col("id"))))
          targets.foreach(i =>
            model(i) = (model(i)._1, s"u$step-$i"))
        case 2 => // CoW range delete
          val lo = 1L + rng.nextInt(400)
          dmlMode(dir, mor = false)
          Snapshots.deleteWhere(spark, dir,
            col("id").between(lo, lo + 20))
          (lo to lo + 20).foreach(model.remove)
        case 3 => // append fresh rows (materialize p physically)
          val fresh = rows(nextId until nextId + 30L, s"a$step")
          nextId += 30L
          Snapshots.append(fresh.toDF("id", "v", "p"), dir)
          fresh.foreach { case (i, v, p) => model(i) = (p, v) }
        case 4 => // merge: half updates of live keys, half inserts
          val upd = rng.shuffle(liveIds).take(5)
            .map(i => (i, s"m$step-$i", model(i)._1))
          val ins = rows(nextId until nextId + 5L, s"m$step")
          nextId += 5L
          dmlMode(dir, mor = false)
          Snapshots.merge(spark, dir,
            (upd ++ ins).toDF("id", "v", "p"), Seq("id"))
          (upd ++ ins).foreach { case (i, v, p) => model(i) = (p, v) }
        case 5 => // maintenance rewrite retires vectors
          if (rng.nextBoolean()) Snapshots.compact(spark, dir, 4)
          else Snapshots.optimize(spark, dir, Seq("id"), numFiles = 4)
        case 6 => // DV delete addressed BY the path-borne column
          val part = rng.nextInt(4)
          val targets = liveIds.filter(i => model(i)._1 == part)
            .take(1 + rng.nextInt(4))
          if (targets.nonEmpty) {
            dmlMode(dir)
            Snapshots.deleteWhere(spark, dir,
              col("p") === part && col("id").isin(targets: _*))
            targets.foreach(model.remove)
          }
      }
      check(s"step $step")
    }
    // history stayed contiguous through every interleaving
    val vs = Snapshots.versions(spark, dir)
    assert(vs == (1 to vs.max), s"non-contiguous history: $vs")
  }
}
