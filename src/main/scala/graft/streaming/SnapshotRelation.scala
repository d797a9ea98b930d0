package graft.streaming

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, PrunedFilteredScan}
import org.apache.spark.sql.types.StructType

import graft.ops.Snapshots

/** Batch [[BaseRelation]] over a [[Snapshots]] table, so the standard
  * reader API works alongside the streaming one:
  *
  *   spark.read.format("graft-snapshots").option("path", dir)
  *     [.option("versionAsOf", 3)].load()
  *
  * Filters Spark pushes into [[buildScan]] are translated back to
  * `Column` predicates and handed to [[Snapshots.readWhere]] — the
  * manifest-stats FILE pruning runs before any data is opened, and the
  * parquet scan below still sees the pushed filters (the translated
  * predicate is part of the inner plan). All filters are also declared
  * unhandled so Spark re-applies them above — pruning is a subset
  * proof, not row-exact. `versionAsOf` is the reader-facing time
  * travel. The schema comes from the version's manifest (no scan is
  * built for it); `version = -1` reads the latest version at each
  * [[buildScan]].
  *
  * The scan surfaces through the DSv1 row interface (one extra
  * row-conversion layer); for hot analytical paths prefer
  * [[Snapshots.read]]/[[Snapshots.readWhere]], which return the native
  * columnar scan. This relation is the interop surface — temp views,
  * `spark.sql` over snapshot tables, tools that only speak
  * `spark.read.format`.
  */
private[graft] class SnapshotRelation(val sqlContext: SQLContext,
    val dir: String, val version: Int) extends BaseRelation
    with PrunedFilteredScan {

  private def spark = sqlContext.sparkSession

  override val schema: StructType = Snapshots.schema(spark, dir, version)

  // manifest-recorded live bytes (DV fraction discounted): without
  // this override Catalyst sees defaultSizeInBytes (Long.MaxValue)
  // and a SMALL dimension table read via format("graft-snapshots")
  // joins a big fact by sort-merge instead of broadcast. A def, not
  // a cached val: a version = -1 relation scans the CURRENT version
  // per buildScan, so a long-lived DataFrame over a growing table
  // must re-price too (Catalyst caches per-plan stats above this —
  // each call opens each manifest of the chain once, metadata-cheap).
  override def sizeInBytes: Long =
    math.max(1L, Snapshots.liveBytes(spark, dir, version))

  // pruning may read fewer FILES but never fewer matching rows; Spark
  // re-applies every filter above the scan, so partial translation of
  // a filter tree is always safe
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val pred = filters.flatMap(filterToColumn(_)).reduceOption(_ && _)
    val base: DataFrame = pred match {
      case Some(p) => Snapshots.readWhere(spark, dir, p, version)
      case None => Snapshots.read(spark, dir, version)
    }
    base.select(requiredColumns.toIndexedSeq.map(col): _*).rdd
  }

  private def filterToColumn(f: Filter): Option[Column] =
    SourceFilters.toColumn(f)
}

/** sources.Filter → Column, best-effort but only ever WIDENING: an
  * untranslatable node yields None (its conjunct just doesn't prune —
  * Spark still filters rows above), a partially-translated AND keeps
  * the translated side (wider — sound), and OR requires both sides.
  * NOT is the polarity flip: a wider child makes `!child` NARROWER,
  * which would drop matching rows — so inside NOT the child must
  * translate EXACTLY ([[toColumnExact]]), all the way down, or the
  * subtree is abandoned. Shared by the snapshot and change-feed
  * relations; WRITE-side translation must NOT use this (even a
  * widened predicate widens a replace scope — see
  * [[graft.sql.GraftTable]]'s exact variant). */
private[streaming] object SourceFilters {

  /** EXACT translation: every node must translate, including both
    * sides of AND — the only sound form under negation. */
  private def toColumnExact(f: Filter): Option[Column] = f match {
    case sources.And(l, r) =>
      for (a <- toColumnExact(l); b <- toColumnExact(r)) yield a && b
    case sources.Or(l, r) =>
      for (a <- toColumnExact(l); b <- toColumnExact(r)) yield a || b
    case sources.Not(c) => toColumnExact(c).map(!_)
    case leaf => toColumn(leaf) // leaves translate exactly or not at all
  }

  def toColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, p) => Some(col(a).startsWith(p))
    case sources.And(l, r) => // one translated side still narrows soundly
      (toColumn(l), toColumn(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (one, other) => one.orElse(other)
      }
    case sources.Or(l, r) =>
      for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case sources.Not(c) => toColumnExact(c).map(!_)
    case _ => None
  }
}

/** Batch CHANGE FEED relation —
  *
  *   spark.read.format("graft-snapshots").option("path", dir)
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", 2)[.option("endingVersion", 7)].load()
  *
  * — the table's committed history over [startingVersion,
  * endingVersion] (both INCLUSIVE; endingVersion defaults to the
  * current version) decomposed to row-level `_change_type`
  * (insert|delete) + `_commit_version` rows via
  * [[Snapshots.changeFeed]]: the batch twin of the streaming source's
  * `readChangeFeed` option, for catch-up CDC jobs and audits that
  * replay a known version range without checkpoint machinery.
  *
  * The DSv1 row interface converts at the TOP of the feed — O(emitted
  * change rows), not O(table): underneath, append runs coalesce into
  * single columnar scans of exactly the appended files, DV-accretive
  * commits decompose positionally, and content-identical rewrites
  * contribute zero rows scan-free, exactly as in the API/stream
  * paths. Native-plan consumers call [[Snapshots.changeFeed]]
  * directly. A vacuumed base version fails loudly (re-sync from a
  * full read).
  *
  * Pruned + filtered: a CDC consumer typically wants few columns
  * (keys + `_change_type`) of few commits — pushed filters (notably
  * on `_commit_version`/`_change_type`) and the column selection land
  * INSIDE the feed plan, below the row conversion, where Catalyst
  * pushes them through the per-commit union into the parquet scans.
  * All filters stay declared unhandled (Spark re-applies above) —
  * translation is best-effort narrowing, never row-exact. */
private[streaming] class ChangeFeedRelation(val sqlContext: SQLContext,
    dir: String, startingVersion: Int, endingVersion: Int)
    extends BaseRelation with PrunedFilteredScan {

  // changeFeed's fromVersion is EXCLUSIVE; the reader option is the
  // first INCLUDED commit, matching the streaming option's meaning.
  // Built ONCE per relation instance: assembling the per-commit plan
  // walks every manifest in the range, and both `schema` and every
  // `buildScan` need the same plan — a relation is resolved per read,
  // and its version range is fixed, so the cached plan cannot go
  // stale (deriving the schema separately would have to reproduce
  // unionByName's column ordering under mid-range schema evolution).
  private lazy val feed: DataFrame =
    Snapshots.changeFeed(sqlContext.sparkSession, dir,
      startingVersion - 1, endingVersion)

  override def schema: StructType = feed.schema

  // upper bound on the bytes this feed can scan (files added/removed
  // per in-range commit) — a SHORT feed over a huge table broadcasts
  // into enrichment joins instead of defaulting to never-broadcast.
  // feedBytes resolves an unbounded end (-1) to the current version
  // and walks only RETAINED versions, mirroring the feed itself.
  override lazy val sizeInBytes: Long =
    math.max(1L, Snapshots.feedBytes(sqlContext.sparkSession, dir,
      startingVersion - 1, endingVersion))

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val pred = filters.flatMap(SourceFilters.toColumn(_))
      .reduceOption(_ && _)
    pred.fold(feed)(feed.filter)
      .select(requiredColumns.toIndexedSeq.map(col): _*).rdd
  }
}
