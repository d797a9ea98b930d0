package graft

import java.nio.file.Files

import scala.util.{Failure, Success, Try}

import graft.ops.Upsert

/** Concurrent-reader contract of the stage-and-swap sinks (upsert /
  * overwrite): a reader whose file listing predates the swap either
  * serves the OLD snapshot or fails cleanly (missing-file error it can
  * retry) — it never silently returns a mixed, partial, or empty
  * result; a reader that lists after the swap sees the new state whole.
  * During the instant between the swap renames the table path is absent,
  * so a new reader fails cleanly at resolution and the next swap heals
  * the table. */
class SwapReaderSpec extends SparkSpec {
  import spark.implicits._

  /** The allowed stale-reader outcomes: the old snapshot, or a clean
    * failure whose chain names the vanished file (retryable). An empty
    * or partial success is the one forbidden result. */
  private def assertStaleOutcome(res: Try[Array[Long]],
      oldSnapshot: Seq[Long]): Unit = res match {
    case Success(rows) =>
      assert(rows.sorted.toSeq == oldSnapshot,
        s"stale reader returned a result that is neither the old " +
          s"snapshot nor a failure: ${rows.sorted.toSeq}")
    case Failure(e) =>
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(_.toString).mkString(" | ")
      assert(msgs.contains("FileNotFound") || msgs.contains("REFRESH") ||
        msgs.contains("does not exist"),
        s"stale reader failed, but not with a clean missing-file error: $msgs")
  }

  test("upsert swap: stale reader = old snapshot or clean failure; fresh = new") {
    val root = Files.createTempDirectory("graft_swapread").toFile
    val path = s"$root/table"
    Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "ver", "s")
      .write.parquet(path)

    val stale = spark.read.parquet(path)
    assert(stale.count() == 2) // pin the file listing pre-swap

    Upsert.upsertParquet(
      Seq((2L, 2L, "b2"), (3L, 2L, "c")).toDF("k", "ver", "s"),
      path, Seq("k"), "ver")

    // fresh listing: the new state, whole
    val fresh = spark.read.parquet(path).select("k").as[Long]
      .collect().sorted.toSeq
    assert(fresh == Seq(1L, 2L, 3L))
    // stale listing: old snapshot or clean failure — never mixed/empty
    assertStaleOutcome(Try(stale.select("k").as[Long].collect()),
      Seq(1L, 2L))
  }

  test("mid-swap window: new reader fails at resolution, next pass heals") {
    val root = Files.createTempDirectory("graft_swapread4").toFile
    val path = s"$root/table"
    Seq((1L, "A")).toDF("k", "part").write.partitionBy("part").parquet(path)

    // freeze the instant between the two swap renames: the current copy
    // is parked at __old__ and the replacement has not landed yet
    assert(new java.io.File(path)
      .renameTo(new java.io.File(s"$root/table__old__")))

    // a reader arriving in the window fails CLEANLY at path resolution
    val ex = intercept[Exception](spark.read.parquet(path).collect())
    assert(ex.getMessage.contains(path) ||
      ex.getMessage.contains("PATH_NOT_FOUND") ||
      ex.getMessage.contains("does not exist"))

    // any next swap heals the interrupted one first; an empty batch
    // keeps the healed content as it is
    Upsert.upsertParquet(Seq.empty[(Long, String)].toDF("k", "part"), path,
      Seq("k"), "part")
    assert(spark.read.parquet(path).select("k").as[Long]
      .collect().toSeq == Seq(1L))
  }
}
