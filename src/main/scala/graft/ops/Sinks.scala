package graft.ops

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Batch sinks (SURVEY.md S8-S10).
  *
  * The reference's TRUNCATE+COPY (active_futures_etl.py:96-104) and
  * to_sql(replace) (funding_stats_etl.py:123-128) are both replace
  * semantics. Spark's bare `mode("overwrite")` deletes the target before
  * the job commits, so [[overwriteParquet]] goes through the shared
  * stage-and-swap ([[AtomicDir]]): the previous table stays readable
  * until the final rename pair, and a crash at any point is healed on
  * the next call. [[stageOverwrite]] is its stage half, for a caller
  * that publishes later ([[graft.pipelines.MainDag]]). [[rowCount]]
  * reports a written table's size from its parquet footers, without a
  * Spark job.
  */
object Sinks {

  /** S8/S9: crash-safe truncate-and-reload / drop-recreate-from-frame:
    * [[stageOverwrite]], then publish at once. */
  def overwriteParquet(df: DataFrame, path: String): Unit =
    stageOverwrite(df, path).publish()

  /** The stage half of [[overwriteParquet]]: `df` written to the staging
    * dir beside `path`; the table changes only when the result is
    * published. */
  def stageOverwrite(df: DataFrame, path: String): Staged =
    AtomicDir.stage(df, path)(df.write.mode("overwrite").parquet(_))

  /** Rows of the parquet table at `path`: the sum of the footer row
    * counts of the files `spark.read.parquet(path)` lists — recursively,
    * so hive `k=v` directories count, and skipping what Spark's listing
    * hides (a name starting with `.`, one starting with `_` that holds
    * no `=`, an in-flight `._COPYING_` copy) and the zero-length files
    * its scan skips. Equal to `spark.read.parquet(path).count()`, but
    * read on the driver from footers alone: no Spark job, where the
    * count runs a schema job plus its count jobs. A missing path throws
    * FileNotFoundException, as the read does. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new HPath(path)
    val fs = root.getFileSystem(conf)
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_")
    def rows(st: FileStatus): Long =
      if (st.isDirectory)
        fs.listStatus(st.getPath)
          .filterNot(c => hidden(c.getPath.getName)).map(rows).sum
      else if (st.getLen == 0) 0L
      else {
        val reader =
          ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try reader.getRecordCount finally reader.close()
      }
    rows(fs.getFileStatus(root))
  }

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
