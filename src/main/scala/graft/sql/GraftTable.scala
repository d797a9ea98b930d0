package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TruncatableTable}
import org.apache.spark.sql.graft.GraftSparkBridge
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{sources, Column}
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Snapshots

/** A graft snapshot table surfaced through DataSource V2 — the handle
  * [[GraftCatalog]] returns and [[GraftResolution]] rewrites.
  *
  * The division of labor is deliberate (the Delta-style split):
  *
  *   - READS never execute through this class. [[GraftResolution]]
  *     replaces the `DataSourceV2Relation` with the native parquet
  *     scan [[Snapshots.read]] builds (stats pruning, deletion
  *     vectors, column mapping applied), so the physical plan is the
  *     vectorized columnar `FileSourceScanExec` with pushed filters —
  *     not a row-interface DSv2 scan. [[newScanBuilder]] therefore
  *     fails loudly if the extensions are not installed, rather than
  *     silently running a slow fallback.
  *   - WRITES go through the V1 write bridge ([[InsertableRelation]]):
  *     `INSERT INTO` → [[Snapshots.append]], `INSERT OVERWRITE` →
  *     [[Snapshots.overwrite]]. The input is a full DataFrame, so the
  *     existing commit protocol (CAS manifest, CHECK constraints,
  *     schema evolution, stats collection) applies unchanged.
  *   - DML (`MERGE INTO`/`DELETE FROM`/`UPDATE`) is rewritten by
  *     [[GraftResolution]] to commands over [[Snapshots.merge]] /
  *     [[Snapshots.deleteWhere]] / [[Snapshots.updateWhere]].
  *
  * ONE VERSION PER HANDLE: the catalog resolves `snapshotVersion`
  * once at load (the current version, or the `VERSION AS OF` /
  * `TIMESTAMP AS OF` target), and the handle's schema (the manifest's
  * pinned schema — no scan is built for it), properties and
  * constraints, CBO statistics and [[readDF]] all read exactly that
  * version, so one statement can neither mix two versions nor pay for
  * two scans. `pinned` marks a time-travel handle; writes refuse it
  * ([[pinnedVersion]]), because writes target the current version.
  *
  * Spark-first rationale per the reference's ETL surface
  * (`scripts/funding_rates_etl.py:100-111` upserts via SQL ON
  * CONFLICT): the reference's users speak SQL-over-catalog; this class
  * is what lets them keep doing so against the snapshot format. */
final class GraftTable(
    val identName: String,
    val dir: String,
    val snapshotVersion: Int,
    pinned: Boolean) extends Table
    with SupportsRead with SupportsWrite with TruncatableTable
    with GraftSparkBridge.V1FallbackTable {

  /** `TRUNCATE TABLE t` — a DATA verb, not a config reset: schema,
    * properties, constraints, clustering and bloom config carry; one
    * `truncate` commit removes every row (previous versions stay
    * readable until vacuum). `INSERT OVERWRITE` is the same verb with
    * rows ([[Snapshots.overwriteData]]); only the path-based reload
    * primitive [[Snapshots.overwrite]] resets carried config. */
  override def truncateTable(): Boolean = {
    if (pinnedVersion.nonEmpty)
      throw new UnsupportedOperationException(
        s"cannot truncate '$identName' pinned at VERSION AS OF " +
          s"${pinnedVersion.get} — writes target the current version only")
    Snapshots.truncate(spark, dir)
    true
  }

  /** The time-travel version, for the write refusals. */
  def pinnedVersion: Option[Int] = Option.when(pinned)(snapshotVersion)

  private def spark: SparkSession = SparkSession.active

  override def name(): String = identName

  override lazy val schema: StructType =
    Snapshots.schema(spark, dir, snapshotVersion)

  // AUTOMATIC_SCHEMA_EVOLUTION is MERGE-scoped (the only consumer in
  // Spark 4.1 is MergeIntoTable.schemaEvolutionEnabled): it lets
  // Spark's own ResolveMergeIntoSchemaEvolution route `MERGE WITH
  // SCHEMA EVOLUTION` new-source-column adds through this catalog's
  // alterTable — which commits the metadata-only widened #schema this
  // format already supports (old files read NULL). Any change beyond
  // a nullable top-level ADD COLUMN is refused loudly, by Spark for
  // non-AddColumn shapes and by GraftCatalog.alterTable otherwise.
  // Note the evolution commit happens at ANALYSIS time (Spark's rule
  // design); a merge that subsequently fails leaves only the benign
  // additive schema commit behind.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  override lazy val properties: util.Map[String, String] =
    (Snapshots.tableProperties(spark, dir, snapshotVersion) ++
      Map("format" -> "graft-snapshots", "location" -> dir) ++
      pinnedVersion.map(v => "pinnedVersion" -> v.toString).toMap ++
      Snapshots.constraints(spark, dir, snapshotVersion)
        .map { case (n, e) => s"constraint.$n" -> e }).asJava

  /** The handle's version as a DataFrame — what [[GraftResolution]]
    * splices in place of the relation. */
  def readDF(): DataFrame = Snapshots.read(spark, dir, snapshotVersion)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => throw new IllegalStateException(
      s"graft table '$identName' was planned through the generic DSv2 " +
        "scan path, which would row-convert a columnar format. Install " +
        "the graft extensions (spark.sql.extensions=" +
        "graft.GraftExtensions) so reads compile to the native " +
        "vectorized parquet scan with stats pruning and deletion vectors.")

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsOverwrite {
      private var truncateAll = false
      private var replaceFilters: Option[Array[Filter]] = None
      override def truncate(): WriteBuilder = { truncateAll = true; this }
      // `INSERT INTO t REPLACE WHERE cond` / DataFrameWriterV2
      // .overwrite(cond) — the scoped overwrite. Spark hands the
      // condition as source filters; [[exactFilterColumn]] refuses any
      // untranslatable node because dropping a conjunct on a WRITE
      // would WIDEN the replaced scope (silent data loss) — unlike the
      // read path, where partial translation only prunes less.
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        replaceFilters = Some(filters); this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: Dataset[Row], ow: Boolean): Unit = {
              if (pinnedVersion.nonEmpty)
                throw new UnsupportedOperationException(
                  s"cannot write to '$identName' pinned at VERSION AS OF " +
                    s"${pinnedVersion.get} — writes target the current " +
                    "version only")
              // the DATA-verb overwrite: INSERT OVERWRITE on a catalog
              // table keeps the table contract (constraints enforced
              // on the new rows, properties/clustering/bloom carried) —
              // only the path-based reload primitive resets config
              if (truncateAll || ow)
                Snapshots.overwriteData(spark, dir, data.toDF())
              else replaceFilters match {
                case Some(fs) =>
                  val pred = fs.map(exactFilterColumn)
                    .reduceOption(_ && _).getOrElse(lit(true))
                  Snapshots.replaceWhere(spark, dir, pred, data.toDF())
                case None => Snapshots.append(data.toDF(), dir)
              }
            }
          }
      }
    }

  /** sources.Filter → Column, EXACT: every node must translate or the
    * write refuses. Best-effort translation (the read path's
    * [[graft.streaming.SnapshotRelation]] converter) is unsound here —
    * a dropped conjunct would widen a REPLACE WHERE's deleted scope. */
  private def exactFilterColumn(f: Filter): Column = f match {
    case sources.EqualTo(a, v) => col(a) === lit(v)
    case sources.EqualNullSafe(a, v) => col(a) <=> lit(v)
    case sources.GreaterThan(a, v) => col(a) > lit(v)
    case sources.GreaterThanOrEqual(a, v) => col(a) >= lit(v)
    case sources.LessThan(a, v) => col(a) < lit(v)
    case sources.LessThanOrEqual(a, v) => col(a) <= lit(v)
    case sources.In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
    case sources.IsNull(a) => col(a).isNull
    case sources.IsNotNull(a) => col(a).isNotNull
    case sources.StringStartsWith(a, p) => col(a).startsWith(p)
    case sources.StringEndsWith(a, p) => col(a).endsWith(p)
    case sources.StringContains(a, p) => col(a).contains(p)
    case sources.AlwaysTrue() => lit(true)
    case sources.AlwaysFalse() => lit(false)
    case sources.And(l, r) => exactFilterColumn(l) && exactFilterColumn(r)
    case sources.Or(l, r) => exactFilterColumn(l) || exactFilterColumn(r)
    case sources.Not(c) => !exactFilterColumn(c)
    case other => throw new UnsupportedOperationException(
      s"REPLACE WHERE condition '$other' does not translate to a " +
        "source filter on graft tables — use column comparisons over " +
        "literals, or the Scala API Snapshots.replaceWhere for " +
        "arbitrary Column predicates")
  }

  /** `df.writeStream.format("graft-snapshots").toTable("graft.db.t")`
    * — the streaming-WRITE surface of the catalog. Spark's
    * `DataStreamWriter.toTable` routes a [[V2TableWithV1Fallback]]
    * table to its v1 provider with the table's location as the path,
    * which lands on [[graft.streaming.SnapshotSourceProvider
    * .createSink]]: the SAME exactly-once epoch machinery
    * (checkpoint-derived writer identity, Append/Complete/Update with
    * `mergeKeys`, replayed-batch no-op) path-based streaming writers
    * already get — rather than a DSv2 row-interface StreamingWrite
    * that would bypass the commit protocol's DataFrame-level
    * constraint enforcement, schema evolution, and stats collection.
    * The `.format("graft-snapshots")` spelling is required (Spark
    * verifies the writer's source against the table's provider — the
    * Delta-style contract). */
  // ANALYZE-stored statistics feed the cost-based optimizer through
  // the CatalogTable below (readPlan attaches it to every
  // LogicalRelation of the converted scan): row count + per-column
  // NDV/null counts let CostBasedJoinReorder re-root multi-join
  // queries by estimated cardinality. They are the handle's version's
  // own (drift-corrected against that version's live rows), so a
  // time-traveled read never borrows the tip's cardinalities.
  private lazy val stats
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogStatistics] =
    Snapshots.analyzedStats(spark, dir, snapshotVersion).map { case (rc, cols) =>
      org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
        sizeInBytes = BigInt(
          math.max(1L, Snapshots.liveBytes(spark, dir, snapshotVersion))),
        rowCount = Some(BigInt(rc)),
        colStats = cols.map { case (name, a) =>
          name -> org.apache.spark.sql.catalyst.catalog.CatalogColumnStat(
            distinctCount = Some(BigInt(a.ndv)),
            min = a.min,
            max = a.max,
            nullCount = Some(BigInt(a.nulls)),
            avgLen = a.avgLen,
            maxLen = a.maxLen,
            // ANALYZE-time equi-height histogram (when
            // spark.sql.statistics.histogram.enabled was on): lets
            // FilterEstimation price skewed predicates instead of
            // assuming uniformity over the NDV
            histogram = a.histogram)
        })
    }

  override def v1Table: CatalogTable = {
    val parts = identName.split('.')
    CatalogTable(
      identifier = TableIdentifier(parts.last,
        if (parts.length >= 2) Some(parts(parts.length - 2)) else None,
        if (parts.length >= 3) Some(parts.head) else None),
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new org.apache.hadoop.fs.Path(dir).toUri)),
      schema = schema,
      provider = Some("graft-snapshots"),
      stats = stats)
  }

  override def toString: String =
    s"GraftTable($identName${pinnedVersion.map("@v" + _).getOrElse("")})"
}
