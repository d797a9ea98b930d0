package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.util.SerializableConfiguration

/** The one deliberate `org.apache.spark.sql` residency in this
  * library: Spark-internal helpers (`private[sql]` in their Scala
  * signatures, or taking the classic session, stable across the 4.x
  * line) that graft needs and that have no public equivalent.
  * Everything here forwards to Spark's own machinery — no graft
  * behavior lives in this package. */
object GraftSparkBridge {

  /** Wrap a resolved Catalyst expression as a user-facing Column
    * (Spark 4's Column is ColumnNode-backed; this is the supported
    * internal bridge). */
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  /** The inverse bridge: the Catalyst expression behind a Column
    * (Spark 4 removed the public `Column.expr`). */
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** A DataFrame over an arbitrary logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A driver-sized DataFrame's schema + InternalRow content — what a
    * DSv2 `LocalScan` (procedure results) wants. */
  def collectInternal(df: DataFrame)
      : (org.apache.spark.sql.types.StructType,
         Array[org.apache.spark.sql.catalyst.InternalRow]) = {
    val d = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    (d.schema, d.queryExecution.executedPlan.executeCollect())
  }

  /** [[org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback]]
    * re-exported for extension: the trait is `private[sql]` (public
    * bytecode), and it is THE seam `DataStreamWriter.toTable` offers a
    * v2 table whose streaming writes should route through its v1 sink
    * provider (the Delta-style fallback). A graft table extends this
    * alias so `writeStream.format("graft-snapshots").toTable(...)`
    * lands on the exactly-once SnapshotSink instead of needing a
    * row-interface DSv2 StreamingWrite. */
  trait V1FallbackTable
    extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback

  /** Spark's generated-column field-metadata accessor
    * (`GeneratedColumn` is `private[sql]`): the `GENERATION_EXPRESSION`
    * key CatalogV2Util round-trips between connector Columns and
    * StructField metadata — the same public mechanics that carry the
    * column-DEFAULT keys. */
  def generationExpression(f: org.apache.spark.sql.types.StructField)
      : Option[String] =
    org.apache.spark.sql.catalyst.util.GeneratedColumn
      .getGenerationExpression(f)

  /** The metadata key itself — CREATE must WRITE it: Spark's
    * `TableInfo.schema()` folds comments and defaults into field
    * metadata but leaves the generation expression only on the
    * connector `Column`s, so the catalog injects it into the schema
    * it pins (CatalogV2Util's `structTypeToV2Columns` reads this same
    * key back out). */
  def generationKey: String =
    org.apache.spark.sql.catalyst.util.GeneratedColumn
      .GENERATION_EXPRESSION_METADATA_KEY

  /** Spark's identity-column field-metadata accessor (`IdentityColumn`
    * is `private[sql]`): (start, step, allowExplicitInsert). */
  def identityInfo(f: org.apache.spark.sql.types.StructField)
      : Option[(Long, Long, Boolean)] =
    org.apache.spark.sql.catalyst.util.IdentityColumn.getIdentityInfo(f)
      .map(s => (s.getStart, s.getStep, s.isAllowExplicitInsert))

  /** The identity metadata keys (start, step, allowExplicitInsert) —
    * CREATE must WRITE them, for the same reason as [[generationKey]]:
    * `TableInfo.schema()` leaves the identity spec only on the
    * connector `Column`s. */
  def identityKeys: (String, String, String) = {
    val i = org.apache.spark.sql.catalyst.util.IdentityColumn
    (i.IDENTITY_INFO_START, i.IDENTITY_INFO_STEP,
      i.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT)
  }

  /** A registered session catalog plugin by name
    * (`sessionState.catalogManager` is `private[sql]`) — what lets
    * the path-based reader accept `.option("table", "cat.db.t")` and
    * resolve it to the table's directory. */
  def catalogByName(spark: SparkSession, name: String)
      : org.apache.spark.sql.connector.catalog.CatalogPlugin =
    spark.sessionState.catalogManager.catalog(name)

  /** The session's current catalog name — what lets a two-part
    * `table_changes('db.t', ...)` resolve like any other two-part
    * identifier in the session. */
  def currentCatalogName(spark: SparkSession): String =
    spark.sessionState.catalogManager.currentCatalog.name()

  /** The session's current namespace — completes one-part names. */
  def currentNamespace(spark: SparkSession): Array[String] =
    spark.sessionState.catalogManager.currentNamespace

  /** A V1 streaming source relation for `format` with `options`,
    * emitting exactly `output` (attribute ids preserved, so a resolved
    * plan can swap a `StreamingRelationV2` for this in place). */
  def streamingSourceRelation(spark: SparkSession, format: String,
      options: Map[String, String],
      output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute])
      : LogicalPlan = {
    val ds = org.apache.spark.sql.execution.datasources.DataSource(
      spark, className = format, options = options)
    org.apache.spark.sql.execution.streaming.runtime.StreamingRelation(
      ds, format, output)
  }

  /** Write `df` as parquet files under `path` the way
    * `DataFrameWriter.parquet` does (the session's commit protocol,
    * the same file names and `_SUCCESS` marker, Spark's basic write
    * metrics), with `trackers` observing every file and row the write
    * job produces: `FileFormatWriter.write`'s `statsTrackers` seam,
    * which `DataFrameWriter` does not expose, and whose `write` takes
    * the classic session. `bucketSpec` writes Spark's bucketed layout
    * (bucket ids in the file names, rows sorted within each task), as
    * a bucketed `saveAsTable` does. The write runs as its own SQL
    * execution, as Delta's `TransactionalWrite` does, so the session's
    * SQL confs reach the tasks. */
  def writeParquet(df: DataFrame, path: String,
      bucketSpec: Option[org.apache.spark.sql.catalyst.catalog.BucketSpec],
      trackers: Seq[WriteJobStatsTracker]): Unit = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    val hadoopConf = spark.sessionState.newHadoopConf()
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID.toString, outputPath = path)
    val basic = new BasicWriteJobStatsTracker(
      new SerializableConfiguration(hadoopConf),
      BasicWriteJobStatsTracker.metrics)
    SQLExecution.withNewExecutionId(qe, Some("writeParquet")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, plan.output),
        hadoopConf, partitionColumns = Nil, bucketSpec, basic +: trackers,
        options = Map.empty)
    }
  }
}
