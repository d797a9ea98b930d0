package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Merge-upsert (SURVEY.md S7) — the reference's
  * `INSERT ... ON CONFLICT (pkey) DO UPDATE` (funding_rates_etl.py:100-111,
  * lending_data_etl.py:76-91) re-expressed for an immutable columnar store:
  * read-existing ∪ new → keep the newest row per key → overwrite.
  *
  * `merge` is the pure dataframe combinator (unit-testable, oracle-
  * checkable); `upsertParquet` is the sink wrapper, and `stageUpsert`
  * its stage half for a caller that publishes later (the swap is
  * [[AtomicDir]]'s stage/publish split). In streaming the same
  * combinator runs inside `foreachBatch` (see graft.streaming.MicroBatch).
  *
  * Scale notes: the winner-per-key pick is max_by over a struct — a hash
  * aggregation with map-side partial combine, which beats a row_number
  * window (no sort, and pre-shuffle partial aggregation collapses
  * re-delivered duplicates early). `upsertParquet` rewrites the whole
  * table per batch; a table too large for that is a snapshot table,
  * whose [[Snapshots.merge]] rewrites only the files the batch's keys
  * can touch.
  */
object Upsert {

  /** Newest-wins merge: one row per `keys`, highest (version, isNew) wins —
    * i.e. updates beat existing rows at equal version, matching the
    * reference's last-write-wins upsert. */
  def merge(existing: DataFrame, updates: DataFrame, keys: Seq[String],
      version: String): DataFrame = {
    val cols = existing.columns.toSeq
    require(updates.columns.toSeq == cols,
      s"schema mismatch: ${updates.columns.toSeq} vs $cols")
    val tagged = existing.withColumn("__new", lit(0))
      .unionByName(updates.withColumn("__new", lit(1)))
    // winner = arg-max of (version, __new) per key; struct comparison is
    // lexicographic so updates win ties.
    val payload = struct((Seq(version, "__new") ++
      cols.filterNot(c => keys.contains(c) || c == version))
      .map(col): _*)
    tagged
      .groupBy(keys.map(col): _*)
      .agg(max(payload).as("__w"))
      .select(keys.map(col) ++
        cols.filterNot(keys.contains).map(c => col(s"__w.$c").as(c)): _*)
      .select(cols.map(col): _*)
  }

  /** Idempotent batch upsert into a parquet path (read ∪ merge ∪ atomic
    * overwrite): [[stageUpsert]], then publish at once. Applying the
    * same batch twice ≡ once. */
  def upsertParquet(updates: DataFrame, path: String, keys: Seq[String],
      version: String): Unit =
    stageUpsert(updates, path, keys, version).publish()

  /** The stage half of [[upsertParquet]]: the merged table written to
    * the staging dir beside `path`; the table changes only when the
    * result is published. */
  def stageUpsert(updates: DataFrame, path: String, keys: Seq[String],
      version: String): Staged =
    // Stage beside the table, then swap: the lazy read of the current
    // files happens while writing the staging dir, and the previous
    // table survives a failure at any point. (The earlier cache()-as-
    // barrier variant could silently re-read the half-overwritten target
    // if an executor was lost after the cached blocks were evicted.)
    AtomicDir.stage(updates, path) { staging =>
      val spark = updates.sparkSession
      val (fs, target) = AtomicDir.fsFor(updates, path)
      // a hive-partitioned target is written back under the partition
      // columns its read discovered, keeping its `k=v` directories
      val (merged, partCols) =
        if (fs.exists(target)) {
          val table = spark.read.parquet(path)
          val discovered = table.queryExecution.analyzed
            .collectFirst { case lr: LogicalRelation => lr.relation }
            .collect { case r: HadoopFsRelation => r.partitionSchema.fieldNames }
            .getOrElse(Array.empty[String])
          val existing = table.select(updates.columns.map(col).toIndexedSeq: _*)
          (merge(existing, updates, keys, version),
            discovered.filter(updates.columns.contains).toSeq)
        } else
          // first write still merges (against nothing): a first batch with
          // in-batch duplicate keys must land deduplicated like every later
          // one, or the one-row-per-key invariant starts out violated
          (merge(updates.limit(0), updates, keys, version), Nil)
      merged.write.mode("overwrite").partitionBy(partCols: _*)
        .parquet(staging)
    }
}
