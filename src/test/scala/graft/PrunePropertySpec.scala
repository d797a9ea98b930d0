package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.Snapshots

/** Property harness for data-skipping soundness: for RANDOM predicate
  * trees — comparisons, IN lists, null tests, cast literals, opaque
  * arithmetic, arbitrarily nested AND/OR/NOT — over a stats-bearing
  * table with nulls and multi-file layout:
  *
  *   - `readWhere(pred)`  ≡ `read().filter(pred)`   (prune = no-op on rows)
  *   - `deleteWhere(pred)` leaves exactly `filter(NOT TRUE(pred))`
  *
  * This is the guard on the prune stack's riskiest code (NNF negation
  * push, folded literal sides, the delete's two-direction prune): any
  * unsound skip shows up as a row diff on some generated tree. The
  * generator is seeded — failures reproduce. */
class PrunePropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(20260814L)

  // multi-file table: clustered long ranges, strings, and null stripes
  private lazy val root: String = {
    val r = Files.createTempDirectory("prune_prop").toFile.toString + "/t"
    Seq(0L until 40L, 40L until 80L, 80L until 120L).foreach { range =>
      Snapshots.append(
        range.map { i =>
          (i,
            if (i % 7 == 0) None else Some(i * 3 % 50),
            if (i % 5 == 0) null else s"s${i % 13}")
        }.toDF("k", "v", "s").coalesce(1), r)
    }
    r
  }

  private def leaf(): Column = rnd.nextInt(10) match {
    case 0 => col("k") < lit(rnd.nextInt(150).toLong)
    case 1 => col("k") >= lit(rnd.nextInt(150).toLong)
    case 2 => col("v") === lit(rnd.nextInt(50).toLong)
    case 3 => col("s") > lit(s"s${rnd.nextInt(13)}")
    case 4 => col("s").isNull
    case 5 => col("v").isNotNull
    case 6 => col("k").isin((0 until (1 + rnd.nextInt(4)))
      .map(_ => rnd.nextInt(150).toLong): _*)
    // cast-literal side: stays Cast(Literal) in the analyzed plan
    case 7 => col("k") <= lit(rnd.nextInt(150)).cast("long")
    // opaque shapes the vocabulary must fail OPEN on, never wrong
    case 8 => pmod(col("k"), lit(3L)) === lit(rnd.nextInt(3).toLong)
    case _ => (col("k") + col("v")) > lit(rnd.nextInt(200).toLong)
  }

  private def tree(depth: Int): Column =
    if (depth <= 0) leaf()
    else rnd.nextInt(4) match {
      case 0 => tree(depth - 1) && tree(depth - 1)
      case 1 => tree(depth - 1) || tree(depth - 1)
      case 2 => !tree(depth - 1)
      case _ => leaf()
    }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("readWhere equals filter for 40 random predicate trees") {
    (1 to 40).foreach { i =>
      val pred = tree(2 + rnd.nextInt(2))
      val got = rows(Snapshots.readWhere(spark, root, pred))
      val want = rows(Snapshots.read(spark, root).filter(pred))
      assert(got == want, s"case $i diverged on predicate: $pred")
    }
  }

  test("deleteWhere leaves exactly the complement, 12 random trees") {
    (1 to 12).foreach { i =>
      val base = Files.createTempDirectory("prune_del").toFile.toString + "/t"
      Seq(0L until 40L, 40L until 80L, 80L until 120L).foreach { range =>
        Snapshots.append(
          range.map { j =>
            (j,
              if (j % 7 == 0) None else Some(j * 3 % 50),
              if (j % 5 == 0) null else s"s${j % 13}")
          }.toDF("k", "v", "s").coalesce(1), base)
      }
      val pred = tree(1 + rnd.nextInt(2))
      val want = rows(Snapshots.read(spark, base)
        .filter(!coalesce(pred, lit(false))))
      Snapshots.deleteWhere(spark, base, pred)
      val got = rows(Snapshots.read(spark, base))
      assert(got == want, s"case $i diverged on predicate: $pred")
    }
  }

  test("the stats prune pass runs no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    root
    spark.sparkContext.addSparkListener(listener)
    try {
      val (kept, pruned) = Snapshots.pruneFiles(spark, root, $"k" >= 80L)
      assert(kept.size == 1 && pruned.size == 2)
      // a job start is posted with the submit; a short settle keeps
      // the zero-assert honest without private APIs
      Thread.sleep(300)
      assert(jobs.get() == 0, s"the prune ran ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
