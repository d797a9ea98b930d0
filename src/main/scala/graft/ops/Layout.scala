package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional clustering (Z-order) — the parquet data-skipping
  * lever at 100 TB. A table sorted on one column prunes row groups on
  * that column only; every predicate on a second column still scans
  * everything. Interleaving the bits of several columns' equi-depth
  * bucket ranks into one Morton key and range-partitioning on it makes
  * EVERY clustered column's per-file min/max span narrow (≈ F^(-1/d) of
  * the domain for F files, d dimensions), so parquet footer min/max
  * statistics prune scans on ANY of them — the layout op behind
  * "OPTIMIZE ... ZORDER BY" in lakehouse engines, here as a plain
  * DataFrame transform + the stage-and-swap rewrite discipline.
  *
  * Scale shape: bucket boundaries are d × (2^bits − 1) approx-quantile
  * values localized ONCE at the driver (a bounded sketch merge, never
  * the data); the key itself is pure codegen'd bit arithmetic; the
  * clustering is one range repartition (the same shuffle a plain sort
  * pays) + in-partition sort. Equi-depth ranks — not min/max scaling —
  * so skewed columns still split into balanced cells.
  */
object Layout {

  /** Equi-depth bucket rank 0..2^bits−1: how many quantile boundaries
    * lie strictly below the value. NULLs rank 0 (they sort first and
    * parquet tracks them via null counts, not min/max). The boundaries
    * are compile-time literals unrolled into a binary-search CASE tree
    * — ⌈log₂ 256⌉ = 8 codegen'd comparisons per row per column, where a
    * linear scan over the boundary array costs 255 (measured 6.4× vs
    * 1.9× time at 10× rows on the full cluster+write+read pass). */
  private def bucketOf(c: Column, bounds: Array[Double]): Column = {
    val cd = c.cast("double")
    // invariant: the rank lies in [lo, hi]; rank > mid iff v > bounds(mid)
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2
        when(cd > lit(bounds(mid)), search(mid + 1, hi))
          .otherwise(search(lo, mid))
      }
    when(cd.isNull, lit(0L)).otherwise(search(0, bounds.length))
  }

  /** Order-preserving numeric surrogate for a string column: the first
    * 6 bytes' codepoints (clamped to 255) packed big-endian into a
    * long — 2⁴⁸ < 2⁵³, so the value survives the double cast exactly.
    * Strings sharing a 6+-char prefix collapse into one bucket (they
    * belong together in a LAYOUT anyway); non-ASCII orders only
    * approximately, which shifts cell boundaries, not correctness. */
  private def strPrefixKey(c: Column): Column =
    (0 until 6).map { i =>
      least(coalesce(ascii(substring(c, i + 1, 1)), lit(0)), lit(255))
        .cast("long") * lit(1L << (8 * (5 - i)))
    }.reduce(_ + _)

  /** The Morton (Z) key for `cols` at `bits` bits per column: bit i of
    * column j lands at position i*d + j. Pure long bit-twiddling,
    * unrolled at plan-build time into codegen'd shifts/ors. Numeric,
    * date (via the double cast) and string columns are supported —
    * strings rank through the order-preserving [[strPrefixKey]]
    * surrogate, so URL/domain/category columns cluster too. */
  def zorderKey(df: DataFrame, cols: Seq[String], bits: Int = 8): Column = {
    require(cols.size >= 2, "zorder needs >= 2 columns (1 = plain sort)")
    require(bits >= 1 && bits * cols.size <= 62,
      s"bits=$bits over ${cols.size} columns exceeds a long key")
    val nb = (1 << bits) - 1
    val probs = (1 to nb).map(_.toDouble / (nb + 1)).toArray
    // per-column rank expression: strings go through the prefix
    // surrogate, everything else through a plain double cast
    val surrogates: Seq[(String, Column)] = cols.map { name =>
      df.schema(name).dataType match {
        case org.apache.spark.sql.types.StringType =>
          (s"__zq_$name", strPrefixKey(col(name)).cast("double"))
        case _ => (s"__zq_$name", col(name).cast("double"))
      }
    }
    // one pass builds every column's boundary sketch together; 1%
    // relative error is plenty for LAYOUT boundaries (a boundary off by
    // 1% of rank shifts ~1% of rows one cell over — file min/max spans
    // are unaffected) and keeps the sketch an order of magnitude
    // cheaper than the 0.1% default-precision habit. Small inputs
    // (< ~1/2ε rows per partition) are still exact: the sketch only
    // compresses past that size.
    val qdf = surrogates.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
    val bounds = qdf.stat.approxQuantile(surrogates.map(_._1).toArray, probs, 0.01)
    val d = cols.size
    val ranks = surrogates.zip(bounds).map { case ((_, surrogate), bs) =>
      bucketOf(surrogate, bs.distinct.sorted)
    }
    ranks.zipWithIndex.map { case (r, j) =>
      (0 until bits).map { i =>
        shiftleft(shiftright(r, i).bitwiseAND(lit(1L)), i * d + j)
      }.reduce[Column](_.bitwiseOR(_))
    }.reduce[Column](_.bitwiseOR(_))
  }

  /** `df` clustered for data skipping: range-partitioned and sorted by
    * the Z key of `cols` (multi-column — per-file min/max footers
    * become narrow on every clustered column at once), or plain
    * RANGE-clustered when `cols` is a single column — Z-ordering a key
    * with nothing to interleave against is just a sort, and a pure
    * range layout is strictly better for single-key point DML
    * (BASELINE.md round 8: 1 file touched under range vs 11). Write
    * the result with `.write.parquet(...)` (or use
    * [[Snapshots.optimize]] for an in-place OPTIMIZE). */
  def cluster(df: DataFrame, cols: Seq[String], bits: Int = 8,
      numFiles: Int = 0): DataFrame = {
    require(cols.nonEmpty, "cluster needs at least one column")
    val keyed =
      if (cols.size == 1) df.withColumn("__zkey", col(cols.head))
      else df.withColumn("__zkey", zorderKey(df, cols, bits))
    val parted =
      if (numFiles > 0) keyed.repartitionByRange(numFiles, col("__zkey"))
      else keyed.repartitionByRange(col("__zkey"))
    parted.sortWithinPartitions("__zkey").drop("__zkey")
  }
}
