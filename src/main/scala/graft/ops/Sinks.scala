package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Batch sinks (SURVEY.md S8-S10).
  *
  * The reference's TRUNCATE+COPY (active_futures_etl.py:96-104) and
  * to_sql(replace) (funding_stats_etl.py:123-128) are both replace
  * semantics. Spark's bare `mode("overwrite")` deletes the target before
  * the job commits, so [[overwriteParquet]] goes through the shared
  * stage-and-swap ([[AtomicDir]]): the previous table stays readable
  * until the final rename pair, and a crash at any point is healed on
  * the next call.
  */
object Sinks {

  /** S8/S9: crash-safe truncate-and-reload / drop-recreate-from-frame. */
  def overwriteParquet(df: DataFrame, path: String): Unit =
    AtomicDir.replaceWith(df, path)(
      (d, staging) => d.write.mode("overwrite").parquet(staging))

  /** 100 TB layout: overwrite partitioned by a derived date column so
    * time-range queries prune files (dynamic partition overwrite only
    * rewrites the partitions present in `df`, not the whole table).
    * Note the delete-before-commit window applies per touched partition;
    * for crash-critical tables use a snapshot table, whose
    * [[Snapshots.replaceWhere]] replaces a range in one atomic commit. */
  def overwritePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** S10: tab-separated, headerless CSV staging file
    * (to_csv(sep="\t", header=False), active_futures_etl.py:103).
    * escape='"' makes embedded quotes RFC-4180 doubled ("a""b") instead
    * of Spark's default backslash escaping — the convention every other
    * CSV reader (including the DuckDB oracle and the reference's COPY)
    * expects, so staged strings stay parseable outside Spark. */
  def tsvStaging(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite")
      .option("sep", "\t").option("header", "false")
      .option("escape", "\"")
      .csv(path)

  /** Clustered write: range-partition into `files` output files on
    * `sortCols` and sort within each, so every parquet row group covers a
    * narrow key range. Point/range predicates on those columns then skip
    * most row groups via footer min/max stats — the file-layout lever
    * that, combined with `partitionBy` date directories
    * ([[overwritePartitioned]]), decides how much of 100 TB a query
    * actually reads. Also the fix for the small-files problem: `files`
    * bounds output file count regardless of upstream parallelism. */
  def writeClustered(df: DataFrame, path: String, files: Int,
      sortCols: Column*): Unit =
    df.repartitionByRange(files, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .write.mode("overwrite").parquet(path)
}
