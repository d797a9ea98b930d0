package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.DataFrame

/** Crash-safe directory replacement shared by every sink that rewrites a
  * parquet table in place ([[Upsert]], [[Sinks.overwriteParquet]]):
  * write to a sibling staging dir, swap via rename pairs, and heal an
  * interrupted swap on the next call. Spark's own `mode("overwrite")`
  * deletes the target before the job commits, so a crash mid-write (or
  * a concurrent read mid-rewrite) loses or misses the table — this
  * machinery closes that window to the instant between two renames.
  * Every swap replaces the WHOLE table directory: there is one
  * granularity, so a parked copy always means the same thing to
  * recovery.
  *
  * A replacement has two halves. [[stage]] heals, clears the staging
  * dir and writes it; the [[Staged]] it returns publishes by
  * [[swapInto]]. The sinks' one-call forms publish at once; a caller
  * that writes several tables (`MainDag`) stages them all first, then
  * publishes each in its own order, so a table whose stage failed
  * never lands and its previous copy stays in place.
  *
  * Concurrent-reader contract (asserted by SwapReaderSpec): a reader
  * whose file listing predates a swap either serves the old snapshot or
  * fails with a clean, retryable missing-file error — never a silently
  * mixed/partial/empty result, because the whole directory moves in one
  * rename and the pinned old paths vanish together. A reader arriving in
  * the instant between the renames fails at path resolution; the next
  * call heals.
  */
private[ops] object AtomicDir {

  /** Filesystem of `path` via the Hadoop FS API — correct on HDFS/S3A/
    * local alike (a `java.io.File` probe silently misfires off-local). */
  def fsFor(df: DataFrame, path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration), p)
  }

  def stagingFor(target: HPath): HPath =
    new HPath(target.getParent, target.getName + "__staging__")

  /** Sibling dir where the previous copy is parked during a swap — NEVER
    * inside the table directory, where partition discovery would read it
    * as a phantom partition. */
  private def oldFor(target: HPath): HPath =
    new HPath(target.getParent, target.getName + "__old__")

  /** Crash recovery, run BEFORE the existence probe of every caller: a
    * crash between the swap renames leaves the previous copy parked at
    * `<target>__old__`. If `<target>` is missing, the replacement never
    * landed and the parked copy IS the table: rename it back. If
    * `<target>` exists, the swap landed and the parked copy is a
    * leftover: delete it. */
  def recoverInterruptedSwap(fs: FileSystem, target: HPath): Unit = {
    val old = oldFor(target)
    if (!fs.exists(old)) return
    if (fs.exists(target)) fs.delete(old, true)
    else if (!fs.rename(old, target))
      throw new java.io.IOException(s"recovery rename $old -> $target failed")
  }

  /** Swap a fully-written staging dir into place: rename current aside
    * (to [[oldFor]] — a path OUTSIDE the table dir), rename staging in,
    * delete the parked copy. The previous data survives a failure at ANY
    * point — a crash between the renames is healed by
    * [[recoverInterruptedSwap]] on the next call; the visibility gap is
    * the instant between the renames — the price of running on a store
    * without atomic directory replace. */
  def swapInto(fs: FileSystem, staging: HPath, target: HPath): Unit = {
    val old = oldFor(target)
    if (fs.exists(old)) fs.delete(old, true)
    val hadPrev = fs.exists(target)
    if (hadPrev && !fs.rename(target, old))
      throw new java.io.IOException(s"rename $target -> $old failed")
    if (!fs.rename(staging, target)) {
      if (hadPrev) fs.rename(old, target) // restore before failing
      throw new java.io.IOException(s"rename $staging -> $target failed")
    }
    if (hadPrev) fs.delete(old, true)
  }

  /** The stage half of a replacement of `path`: heal an interrupted
    * swap, clear the staging dir, and run `write` with the staging
    * dir's path. `write` runs after recovery, so a probe of the target
    * inside it sees the table as the last landed swap left it. The
    * table stays untouched and readable until [[Staged.publish]], which
    * is [[swapInto]]; a stage that is never published leaves only its
    * staging dir, which the next stage of the same table clears. */
  def stage(df: DataFrame, path: String)(write: String => Unit): Staged = {
    val (fs, target) = fsFor(df, path)
    recoverInterruptedSwap(fs, target)
    val staging = stagingFor(target)
    if (fs.exists(staging)) fs.delete(staging, true)
    write(staging.toString)
    Staged(staging.toString, () => swapInto(fs, staging, target))
  }
}

/** A whole-table rewrite written beside its table and not yet visible
  * (the result of [[AtomicDir.stage]]): `dir` is the staging directory,
  * and `publish()` swaps it into place. */
final case class Staged(dir: String, publish: () => Unit)
