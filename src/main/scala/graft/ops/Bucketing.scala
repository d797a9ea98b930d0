package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{hash, lit, pmod}
import org.apache.spark.sql.types.MapType

/** Bucketed table layout — the shuffle-free join. A shuffle join of two
  * 100 TB fact tables moves BOTH through the network every time they
  * meet; writing them bucketed on the join key (same bucket count, same
  * key) moves the data ONCE, at write time, and every subsequent join
  * reads bucket i against bucket i with no Exchange at all — the plan
  * contains only scans, (per-bucket) sorts, and the join. With
  * `sortBy`, even the sort is pre-paid. This is Spark's native
  * pre-partitioning contract (the catalog records the bucket spec;
  * Catalyst proves the co-location and drops the Exchange), the batch
  * analogue of what [[Layout.cluster]] + [[Snapshots.readWhere]] do
  * for scans — layout decided at WRITE time paying at READ time.
  *
  * The returned tables are EXTERNAL (explicit path): the catalog entry
  * carries the bucket metadata, the caller's directory carries the
  * bytes. Repeated [[writeBucketed]] calls replace both.
  *
  * Reference anchor: the reference joins funding rows to the contract
  * dimension on every 5-minute tick (funding_stats_etl.py:63-120) —
  * at its scale a broadcast; at fact-fact scale, this layout.
  */
object Bucketing {

  /** Auto mode's per-file target in OPTIMIZER-ESTIMATE bytes (raw
    * column widths; on-disk parquet is typically several times
    * smaller). 256 MB of plan bytes ≈ a healthy few-tens-of-MB file. */
  val AutoTargetBytes: Long = 256L * 1024 * 1024

  /** Register `df` at `path` as external bucketed table `name`
    * (`buckets` buckets on `keys`, optionally bucket-sorted on
    * `sortCols` so downstream sort-merge joins skip their sorts).
    *
    * `filesPerBucket` decouples WRITE parallelism (and file size) from
    * the bucket count: at the default 1, the table is exactly `buckets`
    * files — but at 100 TB a bucket is tens of GB, and one task writing
    * one giant file per bucket makes the write the bottleneck (measured:
    * the j11 100× derivative spent its time in exactly this single-file
    * write). With f > 1, rows pre-shuffle onto `buckets × f` partitions
    * keyed by (Spark's own bucket id) × f + an intra-bucket salt — every
    * partition holds whole (bucket, salt-slot) groups, so each write
    * task still emits single-bucket files (the bucket READ contract —
    * zero-Exchange joins — is a property of the bucket spec, not the
    * file count) while a bucket's rows land in up to f files written by
    * f parallel tasks. The salt hashes all non-map columns, so even a
    * single hot key splits across files.
    *
    * `filesPerBucket = 0` means AUTO: derive the factor from the
    * optimizer's size estimate for `df` (no extra data pass) so each
    * file targets ~[[AutoTargetBytes]] of plan bytes, clamped to
    * [1, 32]. Plan bytes overestimate on-disk parquet (raw column
    * widths, no compression), which errs toward more, smaller files —
    * the safe side at scale. At fixture scales auto resolves to 1. */
  def writeBucketed(df: DataFrame, name: String, path: String,
      buckets: Int, keys: Seq[String], sortCols: Seq[String] = Nil,
      filesPerBucket: Int = 1): Unit = {
    require(name.matches("[A-Za-z0-9_.]+"), s"unsafe table name '$name'")
    val pre = preShuffled(df, buckets, keys, filesPerBucket)
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // a previous run's files under the same path would be re-adopted by
    // the fresh table; replace them atomically enough for a staging dir
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val w = pre
      .write.format("parquet").mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, keys.head, keys.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*)
     else w).saveAsTable(name)
  }

  /** `df` pre-shuffled onto its buckets for a bucketed write of
    * `buckets` buckets on `keys` ([[writeBucketed]]'s `filesPerBucket`
    * rule). Without this every write task emits a file per bucket it
    * sees (tasks × buckets small files — the classic bucketing file
    * explosion); with it each per-bucket sort runs once, in parallel,
    * and the file count is bucket-aligned (≤ buckets × filesPerBucket).
    * Shared by [[writeBucketed]] and the snapshot tables' bucketed
    * layout commit. */
  private[graft] def preShuffled(df: DataFrame, buckets: Int,
      keys: Seq[String], filesPerBucket: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    require(filesPerBucket >= 0,
      s"filesPerBucket must be >= 1, or 0 for auto; got $filesPerBucket")
    require(keys.nonEmpty, "bucketing needs at least one key column")
    val perBucketFiles =
      if (filesPerBucket > 0) filesPerBucket
      else autoFilesPerBucket(df, buckets)
    if (perBucketFiles == 1) df.repartition(buckets, keys.map(df.col): _*)
    else {
      // Spark's bucket id is pmod(murmur3(keys), buckets) and hash()
      // IS that murmur3 (seed 42), so the derived split key never
      // crosses a bucket boundary
      val bucketId = pmod(hash(keys.map(df.col): _*), lit(buckets))
      val saltCols = df.schema.fields
        .filterNot(_.dataType.isInstanceOf[MapType]) // hash() rejects maps
        .map(f => df.col(f.name)).toSeq
      val salt = pmod(hash((lit("graft-split") +: saltCols): _*),
        lit(perBucketFiles))
      df.repartition(buckets * perBucketFiles,
        bucketId * lit(perBucketFiles) + salt)
    }
  }

  /** The auto derivation behind `filesPerBucket = 0`: per-bucket plan
    * bytes over [[AutoTargetBytes]], ceiling, clamped to [1, 32]. Uses
    * only the optimizer's statistics — no job runs. */
  private[graft] def autoFilesPerBucket(df: DataFrame, buckets: Int): Int = {
    val planBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val perBucket = planBytes / buckets
    ((perBucket + AutoTargetBytes - 1) / AutoTargetBytes)
      .min(32).max(1).toInt
  }

  /** The catalog table written by [[writeBucketed]] — reads carry the
    * bucket spec, which is what lets Catalyst elide the join Exchange. */
  def table(spark: SparkSession, name: String): DataFrame =
    spark.table(name)
}
