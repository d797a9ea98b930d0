package graft.sql

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, StagedTable, StagingTableCatalog, SupportsNamespaces, Table, TableCatalog, TableCatalogCapability, TableChange, TableInfo, View, ViewCatalog, ViewChange, ViewInfo}
import org.apache.spark.sql.connector.catalog.constraints.{Check, Constraint}
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.Snapshots

/** A Spark `TableCatalog` over a warehouse directory of graft snapshot
  * tables — the surface that makes the format speakable by anything
  * that speaks SQL-over-catalog (notebooks, BI, dbt-style pipelines):
  *
  * {{{
  * spark.sql.catalog.graft          = graft.sql.GraftCatalog
  * spark.sql.catalog.graft.warehouse = /data/graft
  * spark.sql.extensions             = graft.GraftExtensions
  *
  * CREATE TABLE graft.db.t (id BIGINT, v DOUBLE);
  * INSERT INTO graft.db.t SELECT ...;
  * SELECT * FROM graft.db.t VERSION AS OF 3;
  * MERGE INTO graft.db.t USING s ON t.id = s.id WHEN MATCHED ...;
  * DELETE FROM graft.db.t WHERE id < 100;
  * UPDATE graft.db.t SET v = v * 2 WHERE id = 7;
  * ALTER TABLE graft.db.t RENAME COLUMN v TO val; -- metadata-only
  * }}}
  *
  * Identifier → path mapping is `warehouse/ns.../name`; a table IS a
  * snapshot directory (its `_manifests/` is the existence test), so
  * Scala-API users and SQL users address the same bytes. Time travel
  * (`VERSION AS OF` / `TIMESTAMP AS OF`) resolves here at load time
  * via the manifest chain / commit instants.
  *
  * At 100 TB the catalog stays driver-light: every operation is
  * manifest metadata (list a directory, read a manifest head) — no
  * data files are opened by any catalog call. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog with ProcedureCatalog with ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  private def fs: FileSystem =
    new HPath(warehouse).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  private def checkLevel(part: String): String = {
    require(part.nonEmpty && !part.contains("/") && !part.contains("\\") &&
      part != "." && part != ".." && !part.startsWith("_"),
      s"invalid identifier level '$part'")
    part
  }

  private def nsPath(namespace: Array[String]): HPath =
    namespace.foldLeft(new HPath(warehouse))((p, n) =>
      new HPath(p, checkLevel(n)))

  private def dirFor(ident: Identifier): String =
    new HPath(nsPath(ident.namespace), checkLevel(ident.name)).toString

  /** The identifier's warehouse directory — for the SQL commands
    * (ANALYZE, view DDL) that act on the path directly. */
  private[sql] def tableDir(ident: Identifier): String = dirFor(ident)

  private def isTableDir(p: HPath): Boolean =
    fs.exists(new HPath(p, "_manifests"))

  /** A renamed-away table's old root: holds only the `_moved`
    * forwarding marker clones resolve through — not a table, not a
    * namespace, and not reusable while clones may reference it. */
  private def isMovedTombstone(p: HPath): Boolean =
    fs.exists(new HPath(p, "_moved"))

  // ---- tables -------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val p = nsPath(namespace)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(isTableDir)
      .map(d => Identifier.of(namespace, d.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(new HPath(dirFor(ident)))

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  /** The handle of `ident` at the version this load resolves — the
    * one version every read of the handle sees ([[GraftTable]]). */
  override def loadTable(ident: Identifier): Table = {
    val dir = dirFor(ident)
    val v = Snapshots.currentVersion(spark, dir)
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftTable(fullName(ident), dir, v, pinned = false)
  }

  /** `VERSION AS OF <v>` — an integer commit number, or a TAG name
    * ([[Snapshots.createTag]]): the named-snapshot read, `SELECT ...
    * FROM t VERSION AS OF 'training-data-v1'`; reads resolve through
    * the manifest chain exactly as [[Snapshots.read]] does. Tag names
    * are non-numeric by construction, so the two namespaces cannot
    * collide. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirFor(ident)
    val v = Snapshots.resolveVersionRef(spark, dir, version)
    val retained = Snapshots.versions(spark, dir)
    require(retained.contains(v), s"version $v of ${fullName(ident)} " +
      s"does not exist (retained: ${retained.mkString(",")})")
    new GraftTable(fullName(ident), dir, v, pinned = true)
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands micros since epoch; resolve
    * to the newest version committed at or before it. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirFor(ident)
    val v = Snapshots.versionAsOf(spark, dir,
      new java.sql.Timestamp(timestampMicros / 1000L))
    new GraftTable(fullName(ident), dir, v, pinned = true)
  }

  /** `TableInfo.schema()` with each generated column's expression
    * injected as `GENERATION_EXPRESSION` field metadata and each
    * identity column's spec as the `identity.*` keys — Spark folds
    * comments and DEFAULTs into the schema's metadata but leaves
    * generation and identity only on the connector `Column`s, so the
    * catalog must carry them into the pinned schema itself (the write
    * verbs read them back via `Snapshots.materializeGenerated` /
    * `Snapshots.assignIdentity`). */
  private def schemaWithGeneration(info: TableInfo): StructType = {
    val gen = info.columns().iterator
      .flatMap(c => Option(c.generationExpression()).map(c.name() -> _))
      .toMap
    val idn = info.columns().iterator
      .flatMap(c => Option(c.identityColumnSpec()).map(c.name() -> _))
      .toMap
    if (gen.isEmpty && idn.isEmpty) info.schema()
    else StructType(info.schema().fields.map { f =>
      if (!gen.contains(f.name) && !idn.contains(f.name)) f
      else {
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        gen.get(f.name).foreach(ge => b.putString(
          org.apache.spark.sql.graft.GraftSparkBridge.generationKey, ge))
        idn.get(f.name).foreach { s =>
          val (kStart, kStep, kAllow) =
            org.apache.spark.sql.graft.GraftSparkBridge.identityKeys
          b.putLong(kStart, s.getStart)
          b.putLong(kStep, s.getStep)
          b.putBoolean(kAllow, s.isAllowExplicitInsert)
        }
        f.copy(metadata = b.build())
      }
    })
  }

  /** The CREATE/REPLACE TABLE statement translation shared by
    * [[createTable]] and the staged (atomic) variants: validates the
    * provider/location/tombstone rules and renders (properties
    * incl. clustering + comment, CHECK constraints incl. NOT NULL). */
  private def translateInfo(ident: Identifier,
      info: TableInfo): (Map[String, String], Map[String, String]) = {
    // PARTITIONED BY (col, ...) maps to the table's CLUSTERING keys
    // (the `cluster.columns` property): physical hive-style partition
    // directories on high-cardinality keys are the 100 TB small-file
    // anti-pattern, while a clustering declaration gives [[Snapshots
    // .maintain]] the keys to OPTIMIZE by and stats pruning the narrow
    // per-file ranges that make point reads and DML touch one file.
    // Only identity transforms are accepted — bucket/temporal
    // transforms would promise a physical layout this format
    // deliberately does not keep.
    val clusterCols = info.partitions().toSeq.map { t =>
      val refs = t.references()
      require(t.name() == "identity" && refs.length == 1 &&
        refs.head.fieldNames.length == 1,
        s"graft tables support PARTITIONED BY plain columns only " +
          s"(mapped to clustering keys), got transform '$t'")
      refs.head.fieldNames.head
    }
    // refuse-loudly, never silently repurpose: `USING <provider>` for
    // anything but this format would create a graft table the user
    // believes is something else, and `LOCATION` would be ignored —
    // a table living somewhere other than where the user declared
    // "parquet" passes because Spark injects spark.sql.sources.default
    // as the provider when no USING clause was written at all
    val provider = Option(info.properties().get(TableCatalog.PROP_PROVIDER))
    provider.filterNot(p => p.equalsIgnoreCase("graft") ||
        p.equalsIgnoreCase("graft-snapshots") || p.equalsIgnoreCase("parquet"))
      .foreach(p => throw new UnsupportedOperationException(
        s"catalog '$catalogName' creates graft snapshot tables only — " +
          s"USING $p is not supported here (omit USING, or use " +
          "USING graft)"))
    if (info.properties().get(TableCatalog.PROP_LOCATION) != null)
      throw new UnsupportedOperationException(
        s"catalog '$catalogName' manages table locations under its " +
          "warehouse — CREATE TABLE ... LOCATION is not supported; to " +
          "address an existing snapshot directory, read it by path " +
          "(spark.read.format(\"graft-snapshots\")) or clone it in")
    val dir = dirFor(ident)
    if (isMovedTombstone(new HPath(dir)))
      throw new IllegalStateException(
        s"'${fullName(ident)}' is the old name of a renamed table and " +
          "holds a _moved forwarding marker that shallow clones may " +
          "still resolve through — creating a new table here would " +
          "shadow it. Pick another name, or delete the marker once no " +
          "clone references the renamed table")
    // mirror of createView's table check: a name is a table XOR a view
    if (isViewDir(new HPath(dir)))
      throw new ViewAlreadyExistsException(ident)
    // CHECK constraints declared at CREATE time route to the same
    // write-time data contracts as ALTER TABLE ADD CONSTRAINT; any
    // other constraint kind refuses loudly — capabilities() advertises
    // SUPPORT_TABLE_CONSTRAINT, so silently dropping one would be an
    // unenforced contract the user believes exists
    val declared = info.constraints().toSeq.map {
      case c: Check => c.name -> c.predicateSql
      case other: Constraint => throw new UnsupportedOperationException(
        s"graft tables enforce CHECK constraints only, got " +
          s"${other.getClass.getSimpleName} '${other.name}' — primary/" +
          "foreign keys are not enforceable in an analytics store")
    }
    // NOT NULL columns: the format stores every column nullable (files
    // may predate later-added columns), so the contract is honored as
    // an explicit write-enforced CHECK — not silently dropped
    val notNull = info.schema().fields.toSeq.filterNot(_.nullable)
      .map(f => s"nn_${f.name}" -> s"${f.name} IS NOT NULL")
    // GENERATED ALWAYS AS columns: Spark's analyzer validates the SQL
    // spelling (gated by the capability below); the programmatic
    // createTable path gets the same contract here — the expression
    // must analyze against the NON-generated columns (no chains, no
    // self-reference) and be deterministic (every writer re-evaluates
    // it; see Snapshots.materializeGenerated)
    locally {
      val fields = schemaWithGeneration(info).fields
      val genFree = StructType(fields.filter(f =>
        org.apache.spark.sql.graft.GraftSparkBridge
          .generationExpression(f).isEmpty))
      fields.foreach { f =>
        org.apache.spark.sql.graft.GraftSparkBridge
            .generationExpression(f).foreach { ge =>
          val probe = spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            genFree)
          val analyzed =
            try Some(probe.select(org.apache.spark.sql.functions
              .expr(ge).cast(f.dataType)).queryExecution.analyzed)
            catch { case scala.util.control.NonFatal(_) => None }
          require(analyzed.nonEmpty,
            s"generated column '${f.name}' of ${fullName(ident)}: " +
              s"expression ($ge) does not resolve against the table's " +
              "non-generated columns")
          require(analyzed.get.expressions.forall(_.deterministic),
            s"generated column '${f.name}' of ${fullName(ident)}: " +
              s"expression ($ge) must be deterministic — writers " +
              "re-evaluate it per row")
        }
        // identity columns: integral type, nonzero step (Spark's own
        // analyzer validates the SQL spelling; this covers the
        // programmatic path), never combined with generation/DEFAULT
        org.apache.spark.sql.graft.GraftSparkBridge
            .identityInfo(f).foreach { case (_, step, _) =>
          require(f.dataType == org.apache.spark.sql.types.LongType ||
              f.dataType == org.apache.spark.sql.types.IntegerType,
            s"identity column '${f.name}' of ${fullName(ident)} must " +
              s"be BIGINT or INT, got ${f.dataType.sql}")
          require(step != 0L,
            s"identity column '${f.name}' of ${fullName(ident)}: " +
              "INCREMENT BY 0 can never advance")
          require(org.apache.spark.sql.graft.GraftSparkBridge
              .generationExpression(f).isEmpty,
            s"column '${f.name}' of ${fullName(ident)} cannot be both " +
              "IDENTITY and GENERATED ALWAYS AS")
          require(!f.metadata.contains("CURRENT_DEFAULT"),
            s"identity column '${f.name}' of ${fullName(ident)} cannot " +
              "also carry a DEFAULT")
        }
      }
    }
    // user properties + declared clustering + COMMENT, all in the ONE
    // v1 commit — no crash window where the table exists unconfigured
    val props = info.properties().asScala.toMap
      .filterNot { case (k, _) => ReservedTableProps.contains(k) } ++
      Option(info.properties().get(TableCatalog.PROP_COMMENT))
        .map("comment" -> _).toMap ++
      (if (clusterCols.nonEmpty)
        Map("cluster.columns" -> clusterCols.mkString(",")) else Map.empty)
    (props, (declared ++ notNull).toMap)
  }

  override def createTable(ident: Identifier, info: TableInfo): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val (props, constraints) = translateInfo(ident, info)
    val v = Snapshots.createTable(spark, dirFor(ident),
      schemaWithGeneration(info), props, constraints)
    // mutual exclusion with a RACING CREATE VIEW of the same name
    // (translateInfo's pre-check covers the sequential case): the view
    // side re-checks after its CAS too, so whichever artifact landed
    // second rolls itself back and both racers fail loudly
    rollbackIfViewRaced(ident)
    new GraftTable(fullName(ident), dirFor(ident), v, pinned = false)
  }

  /** Post-commit half of the table/view mutual exclusion: when a view
    * document materialized alongside a FRESHLY created table, delete
    * the table's own artifacts (its manifests and staged data — the
    * table did not exist before, so nothing else lives there) and
    * refuse. */
  private[sql] def rollbackIfViewRaced(ident: Identifier): Unit = {
    val p = new HPath(dirFor(ident))
    if (isViewDir(p)) {
      fs.delete(new HPath(p, "_manifests"), true)
      fs.delete(new HPath(p, "data"), true)
      throw new ViewAlreadyExistsException(ident)
    }
  }

  // ---- StagingTableCatalog: atomic CTAS / REPLACE / CREATE OR
  // REPLACE. The staged table writes data files under the target
  // directory WITHOUT a manifest; commitStagedChanges lands schema +
  // properties + constraints + data as ONE CAS commit. On an existing
  // table the commit is the snapshot-native REPLACE: a new version on
  // the SAME history (op `replace-table`), so time travel still reads
  // the pre-replace content until vacuum — strictly stronger than the
  // non-atomic drop+create Spark falls back to without this interface
  // (which has a window where the table does not exist, and loses
  // history). A crash before commit leaves ignorable orphan files.

  override def stageCreate(ident: Identifier,
      info: TableInfo): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val (props, constraints) = translateInfo(ident, info)
    new GraftStagedTable(fullName(ident), dirFor(ident), schemaWithGeneration(info),
      props, constraints, mustExist = false, mustNotExist = true,
      postCommit = () => rollbackIfViewRaced(ident))
  }

  override def stageReplace(ident: Identifier,
      info: TableInfo): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val (props, constraints) = translateInfo(ident, info)
    new GraftStagedTable(fullName(ident), dirFor(ident), schemaWithGeneration(info),
      props, constraints, mustExist = true, mustNotExist = false)
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable = {
    val (props, constraints) = translateInfo(ident, info)
    // the view-race rollback applies only when this verb CREATES: a
    // replace of an existing table has nothing to mutually exclude
    // (the pre-check above refused if a view already held the name)
    val fresh = !tableExists(ident)
    new GraftStagedTable(fullName(ident), dirFor(ident), schemaWithGeneration(info),
      props, constraints, mustExist = false, mustNotExist = false,
      postCommit = () => if (fresh) rollbackIfViewRaced(ident))
  }

  /** Keys Spark itself injects into createTable properties — catalog
    * bookkeeping, not user table properties. */
  private val ReservedTableProps =
    Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_OWNER,
      TableCatalog.PROP_EXTERNAL, TableCatalog.PROP_IS_MANAGED_LOCATION,
      TableCatalog.PROP_TABLE_TYPE, TableCatalog.PROP_COLLATION)

  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  /** `ALTER TABLE ... ADD COLUMN / RENAME COLUMN / DROP COLUMN` route
    * to the metadata-only column-mapping commits — zero data
    * rewritten (ADD widens the pinned schema; pre-evolution files
    * read NULL for the new column, time travel keeps the old shape);
    * `ADD CONSTRAINT name CHECK (...)` / `DROP CONSTRAINT` route to
    * the write-time data contracts (the ADD scans once to prove
    * existing rows comply, exactly like the Scala API). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val dir = dirFor(ident)
    // each change commits on its own: a bad DML mode refuses before
    // any change of the statement lands
    changes.foreach {
      case s: TableChange.SetProperty if s.property == Snapshots.DmlModeKey =>
        Snapshots.requireDmlMode(s.value, fullName(ident))
      case _ =>
    }
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft tables add top-level columns only")
        require(a.isNullable,
          s"ADD COLUMN ${a.fieldNames.head} NOT NULL is unsatisfiable: " +
            "existing rows have no value for it — add it nullable, " +
            "backfill, then ALTER TABLE ADD CONSTRAINT ... CHECK " +
            s"(${a.fieldNames.head} IS NOT NULL)")
        require(a.position() == null,
          "graft tables add columns at the end only (FIRST/AFTER would " +
            "reorder the pinned physical schema)")
        // DEFAULT routes to the metadata-only add: pre-evolution
        // files materialize the pinned literal scan-side
        // (EXISTS_DEFAULT), INSERTs that omit the column fill from
        // CURRENT_DEFAULT — Snapshots.addColumn validates the
        // constant-foldable contract and refuses the rest
        Snapshots.addColumn(spark, dir, a.fieldNames.head, a.dataType(),
          Option(a.defaultValue()).map { dv =>
            // a sql-less ColumnDefaultValue (programmatic alterTable)
            // carries a connector Literal in CATALYST-INTERNAL form —
            // render it through catalyst's typed Literal, never
            // toString (raw micros/days would parse as the wrong
            // value or refuse)
            Option(dv.getSql).getOrElse {
              val v = dv.getValue
              require(v != null, s"ADD COLUMN ${a.fieldNames.head}: " +
                "DEFAULT carries neither SQL nor a literal value")
              org.apache.spark.sql.catalyst.expressions
                .Literal(v.value, v.dataType).sql
            }
          })
        // a comment is real metadata: persist it where DESCRIBE finds
        // it rather than dropping it silently
        if (a.comment() != null)
          Snapshots.setProperty(spark, dir,
            s"column.comment.${a.fieldNames.head}", a.comment())
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames.length == 1,
          "graft tables set defaults on top-level columns only")
        // DROP DEFAULT arrives as an empty/absent new default
        val sql = Option(u.newCurrentDefault())
          .flatMap(dv => Option(dv.getSql))
          .orElse(Option(u.newDefaultValue()).filter(_.trim.nonEmpty))
        Snapshots.setColumnDefault(spark, dir, u.fieldNames.head, sql)
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft column mapping renames top-level columns only")
        Snapshots.renameColumn(spark, dir, r.fieldNames.head, r.newName)
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graft column mapping drops top-level columns only")
        Snapshots.dropColumn(spark, dir, d.fieldNames.head)
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames.length == 1,
          "graft tables widen top-level columns only")
        Snapshots.widenColumn(spark, dir, u.fieldNames.head,
          u.newDataType())
      case a: TableChange.AddConstraint => a.constraint() match {
        case c: Check =>
          Snapshots.setConstraint(spark, dir, c.name, c.predicateSql)
        case other: Constraint => throw new UnsupportedOperationException(
          s"graft tables enforce CHECK constraints only, got " +
            s"${other.getClass.getSimpleName} '${other.name}' — primary/" +
            "foreign keys are not enforceable in an analytics store")
      }
      case d: TableChange.DropConstraint =>
        val had = Snapshots.constraints(spark, dir).contains(d.name)
        if (!had && !d.ifExists)
          throw new IllegalArgumentException(
            s"no CHECK constraint '${d.name}' on ${fullName(ident)}")
        if (had) Snapshots.dropConstraint(spark, dir, d.name)
      case n: TableChange.UpdateColumnNullability =>
        // the format stores every column nullable in the files;
        // NOT NULL is represented as the CREATE-time enforced CHECK
        // `nn_<col>` — SET NOT NULL adds it (setConstraint proves the
        // existing rows comply first, exactly like ADD CONSTRAINT),
        // DROP NOT NULL retires it. A hand-added CHECK with the same
        // predicate under a different name is the user's to manage.
        require(n.fieldNames.length == 1,
          "graft tables alter nullability of top-level columns only")
        val f = resolveColumn(ident, n.fieldNames.head)
        if (n.nullable()) {
          val cname = s"nn_${f.name}"
          if (Snapshots.constraints(spark, dir).contains(cname))
            Snapshots.dropConstraint(spark, dir, cname)
          // else: already nullable — the DDL is a no-op, not an error
        } else
          Snapshots.setConstraint(spark, dir, s"nn_${f.name}",
            s"${f.name} IS NOT NULL")
      case c: TableChange.UpdateColumnComment =>
        // same metadata home the ADD COLUMN ... COMMENT path uses,
        // so DESCRIBE-side consumers find both spellings in one place
        require(c.fieldNames.length == 1,
          "graft tables comment top-level columns only")
        val f = resolveColumn(ident, c.fieldNames.head)
        Option(c.newComment()).filter(_.nonEmpty) match {
          case Some(txt) =>
            Snapshots.setProperty(spark, dir, s"column.comment.${f.name}", txt)
          case None =>
            if (Snapshots.tableProperties(spark, dir)
                .contains(s"column.comment.${f.name}"))
              Snapshots.unsetProperty(spark, dir, s"column.comment.${f.name}")
        }
      case p: TableChange.UpdateColumnPosition =>
        throw new UnsupportedOperationException(
          s"ALTER COLUMN ${p.fieldNames.mkString(".")} FIRST/AFTER is not " +
            "supported on graft tables: the pinned physical schema maps " +
            "columns by name, so ordinal position carries no meaning — " +
            "SELECT the columns in the order you want instead")
      case s: TableChange.SetProperty =>
        Snapshots.setProperty(spark, dir, s.property, s.value)
      case r: TableChange.RemoveProperty =>
        if (Snapshots.tableProperties(spark, dir).contains(r.property))
          Snapshots.unsetProperty(spark, dir, r.property)
      case other => throw new UnsupportedOperationException(
        s"ALTER TABLE change ${other.getClass.getSimpleName} is not " +
          "supported on graft tables (supported: ADD COLUMN, RENAME " +
          "COLUMN, DROP COLUMN, ALTER COLUMN TYPE (widening), SET/DROP " +
          "DEFAULT, SET/DROP NOT NULL, COMMENT, ADD/DROP CONSTRAINT " +
          "... CHECK, SET/UNSET TBLPROPERTIES)")
    }
    loadTable(ident)
  }

  /** Resolve a column reference against the table's pinned schema,
    * case-insensitively, returning the canonical field — so derived
    * artifacts (constraint names, comment property keys) always carry
    * the table's spelling regardless of how the DDL spelled it. */
  private def resolveColumn(ident: Identifier,
      name: String): org.apache.spark.sql.types.StructField = {
    val schema = loadTable(ident).schema()
    schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$name' in ${fullName(ident)}: " +
          schema.fieldNames.toSeq.mkString(", ")))
  }

  // ---- procedures (CALL graft.system.*) -----------------------------

  private lazy val procedures: Map[String, UnboundProcedure] =
    GraftProcedures.all { table =>
      val parts = table.split('.')
      require(parts.nonEmpty && parts.forall(_.nonEmpty),
        s"bad table reference '$table' — use 'namespace.table' or 'table'")
      if (parts.length == 1)
        dirFor(Identifier.of(defaultNamespace(), parts.head))
      else dirFor(Identifier.of(parts.init, parts.last))
    }

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"graft procedures live under the 'system' namespace, got " +
        s"${fullName(ident)}")
    procedures.getOrElse(ident.name, throw new IllegalArgumentException(
      s"unknown procedure '${ident.name}' — available: " +
        procedures.keys.toSeq.sorted.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      procedures.keys.toSeq.sorted
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def dropTable(ident: Identifier): Boolean = {
    val p = new HPath(dirFor(ident))
    if (!isTableDir(p)) false
    else fs.delete(p, true)
  }

  // ---- views (see [[GraftViews]] for the SQL bridge) ------------------

  /** A view's documents are GENERATIONS (`_view` = 0, `_view.<N>`),
    * each published through the commit CAS and never mutated: the
    * current definition is the highest generation, a REPLACE/ALTER
    * publishes generation N+1 and prunes only after it is durable —
    * so no crash, publish failure, or concurrent reader ever observes
    * a missing or torn definition, and two concurrent ALTERs cannot
    * silently lose one writer's change (the loser's CAS on N+1 fails
    * loudly). */
  private def isViewDir(p: HPath): Boolean =
    GraftViews.currentDoc(fs, p).nonEmpty

  private def nextViewDoc(ident: Identifier, gen: Int): HPath =
    new HPath(new HPath(dirFor(ident)),
      s"${GraftViews.ViewFile}.$gen")

  override def viewExists(ident: Identifier): Boolean =
    isViewDir(new HPath(dirFor(ident)))

  /** Per-namespace view-name cache for the RESOLUTION path: the view
    * rule probes every unresolved relation name on every analyzer
    * iteration, and an uncached probe is a storage round trip per
    * relation per iteration (several extra HEAD requests of analysis
    * latency per query on an object store). One namespace listing
    * amortizes across a short TTL; this catalog instance's own view
    * DDL invalidates immediately, so create-then-select in one
    * session is always fresh — only ANOTHER session's brand-new view
    * can be missed for up to the TTL (re-run the query). The
    * `viewExists` API above stays uncached (exact). */
  private val viewNamesCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Set[String])]()
  private val ViewCacheTtlNanos = 2000000000L

  private[sql] def viewExistsCached(ident: Identifier): Boolean = {
    val ns = ident.namespace.mkString("\u0000")
    val now = System.nanoTime()
    val cached = viewNamesCache.get(ns)
    val names =
      if (cached != null && now - cached._1 < ViewCacheTtlNanos) cached._2
      else {
        val set =
          try listViews(ident.namespace: _*).map(_.name).toSet
          catch { case _: NoSuchNamespaceException => Set.empty[String] }
        viewNamesCache.put(ns, (now, set))
        set
      }
    names.contains(ident.name)
  }

  private def invalidateViewCache(ident: Identifier): Unit =
    viewNamesCache.remove(ident.namespace.mkString("\u0000"))

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    val p = nsPath(ns)
    if (!fs.exists(p)) throw new NoSuchNamespaceException(ns)
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(isViewDir)
      .map(d => Identifier.of(ns, d.getName))
  }

  override def loadView(ident: Identifier): View =
    loadViewWithGen(ident)._2

  /** [[loadView]] plus the loaded document's GENERATION — what the
    * read-modify-write verbs (alterView's property fold) CAS against.
    * Retries once when the listed generation vanishes between the
    * listing and the open (a racing replace pruned it). */
  private def loadViewWithGen(ident: Identifier): (Int, View) = {
    val dir = new HPath(dirFor(ident))
    def attempt(): (Int, View) = {
      val (gen, doc) = GraftViews.currentDoc(fs, dir)
        .getOrElse(throw new NoSuchViewException(ident))
      (gen, GraftViews.load(fs, doc, fullName(ident)))
    }
    try attempt()
    catch { case _: java.io.FileNotFoundException => attempt() }
  }

  /** Exact re-probe after the TTL cache said "exists" but the load
    * found nothing (another session's DROP inside the TTL window):
    * invalidates this namespace's cache entry and answers from
    * storage, so the resolution rule can fall through to table
    * resolution instead of failing the reader's query. */
  private[sql] def reprobeView(ident: Identifier): Boolean = {
    invalidateViewCache(ident)
    viewExists(ident)
  }

  /** Exclusive-create through the SAME per-scheme commit CAS as table
    * manifests: a racing CREATE VIEW of one name loses loudly. A view
    * cannot shadow a table, a _moved tombstone, or a non-empty
    * namespace directory; a CREATE TABLE racing this CREATE VIEW is
    * caught by the post-publish re-check (each side rolls back its
    * own artifact and fails loudly rather than leaving a name that is
    * simultaneously a table and a view). */
  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    val p = new HPath(dirFor(ident))
    if (isTableDir(p)) throw new TableAlreadyExistsException(ident)
    if (isMovedTombstone(p))
      throw new IllegalStateException(
        s"'${fullName(ident)}' is the old name of a renamed table " +
          "(it holds a _moved forwarding marker) — pick another name")
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    val doc = nextViewDoc(ident, 1)
    if (!Snapshots.publishExclusive(spark, doc.toString,
        GraftViews.render(info)))
      throw new ViewAlreadyExistsException(ident)
    // mutual exclusion with CREATE TABLE: the table side re-checks for
    // a view after ITS v1 commit; whichever artifact materialized
    // second rolls itself back, so both racers fail loudly instead of
    // one name resolving as table AND view
    if (isTableDir(p)) {
      fs.delete(doc, false)
      invalidateViewCache(ident)
      throw new TableAlreadyExistsException(ident)
    }
    invalidateViewCache(ident)
    loadView(ident)
  }

  /** CREATE OR REPLACE VIEW — publishes the next GENERATION through
    * the CAS ([[GraftViews.viewDocs]]) and prunes superseded ones only
    * after it is durable: the old definition survives a crash or
    * publish failure mid-replace, concurrent readers never observe a
    * window with no document, and a racing writer's replacement is
    * never clobbered (the second CAS on one generation number loses
    * loudly). */
  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val ident = info.ident
    val p = new HPath(dirFor(ident))
    if (isTableDir(p)) throw new TableAlreadyExistsException(ident)
    val cur = GraftViews.currentDoc(fs, p)
    if (cur.isEmpty && !orCreate) throw new NoSuchViewException(ident)
    val prevGen = cur.map(_._1).getOrElse(0)
    val doc = nextViewDoc(ident, prevGen + 1)
    if (!Snapshots.publishExclusive(spark, doc.toString,
        GraftViews.render(info)))
      throw new java.util.ConcurrentModificationException(
        s"REPLACE VIEW ${fullName(ident)} lost a race with a " +
          "concurrent writer — re-run to replace the winner")
    if (cur.isEmpty && isTableDir(p)) {
      // created-from-nothing: same table/view mutual exclusion as
      // createView
      fs.delete(doc, false)
      invalidateViewCache(ident)
      throw new TableAlreadyExistsException(ident)
    }
    GraftViews.pruneDocs(fs, p, keepFrom = prevGen)
    invalidateViewCache(ident)
    loadView(ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val (gen, v) = loadViewWithGen(ident) // throws when absent
    val props = changes.foldLeft(v.properties.asScala.toMap) {
      case (acc, s: ViewChange.SetProperty) => acc + (s.property -> s.value)
      case (acc, r: ViewChange.RemoveProperty) => acc - r.property
      case (_, other) => throw new UnsupportedOperationException(
        s"ALTER VIEW change ${other.getClass.getSimpleName} is not " +
          "supported on graft views (supported: SET/UNSET properties)")
    }
    val info = new ViewInfo(ident, v.query, v.currentCatalog,
      v.currentNamespace, v.schema, v.queryColumnNames, v.columnAliases,
      v.columnComments, props.asJava)
    // a genuine compare-and-swap on the LOADED document: publishing
    // generation gen+1 fails iff another writer replaced the document
    // this fold was based on — no property change can be silently lost
    if (!Snapshots.publishExclusive(spark,
        nextViewDoc(ident, gen + 1).toString, GraftViews.render(info)))
      throw new java.util.ConcurrentModificationException(
        s"ALTER VIEW ${fullName(ident)} lost a race with a concurrent " +
          "writer — re-run against the new definition")
    GraftViews.pruneDocs(fs, new HPath(dirFor(ident)), keepFrom = gen)
    invalidateViewCache(ident)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean = {
    val p = new HPath(dirFor(ident))
    invalidateViewCache(ident)
    if (!isViewDir(p)) false
    else fs.delete(p, true)
  }

  override def renameView(oldIdent: Identifier,
      newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent)) throw new NoSuchViewException(oldIdent)
    val dst = new HPath(dirFor(newIdent))
    if (viewExists(newIdent)) throw new ViewAlreadyExistsException(newIdent)
    if (isTableDir(dst)) throw new TableAlreadyExistsException(newIdent)
    if (fs.exists(dst))
      throw new IllegalStateException(
        s"rename view ${fullName(oldIdent)} -> ${fullName(newIdent)}: " +
          s"destination already exists and is not a view")
    fs.mkdirs(dst.getParent)
    if (!fs.rename(new HPath(dirFor(oldIdent)), dst))
      throw new IllegalStateException(
        s"rename view ${fullName(oldIdent)} -> ${fullName(newIdent)} failed")
    invalidateViewCache(oldIdent)
    invalidateViewCache(newIdent)
  }

  /** `ALTER TABLE ... RENAME TO ...` physically moves the table
    * directory, then leaves a `_moved` forwarding marker at the old
    * root ([[Snapshots.recordMove]]) so SHALLOW CLONES of this table —
    * which reference its data files by absolute path — keep resolving
    * through the marker instead of dangling. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val src = dirFor(oldIdent)
    val dstDir = dirFor(newIdent)
    val dst = new HPath(dstDir)
    // the same guards as createTable: renaming ONTO a _moved tombstone
    // would shadow the forwarding marker shallow clones still resolve
    // through, and fs.rename into any existing directory moves the
    // table INSIDE it (dst/<srcName>) — the table would vanish from
    // the catalog and recordMove would point the old name at a
    // non-table path
    if (isMovedTombstone(dst))
      throw new IllegalStateException(
        s"'${fullName(newIdent)}' is the old name of a renamed table " +
          "and holds a _moved forwarding marker that shallow clones " +
          "may still resolve through — renaming onto it would shadow " +
          "it. Pick another name, or delete the marker once no clone " +
          "references the renamed table")
    if (fs.exists(dst))
      throw new IllegalStateException(
        s"rename ${fullName(oldIdent)} -> ${fullName(newIdent)}: " +
          s"destination path $dstDir already exists and is not a " +
          "catalog table — refusing (fs.rename would nest the table " +
          "inside it)")
    fs.mkdirs(dst.getParent)
    if (!fs.rename(new HPath(src), dst))
      throw new IllegalStateException(
        s"rename ${fullName(oldIdent)} -> ${fullName(newIdent)} failed")
    Snapshots.recordMove(spark, src, dstDir)
  }

  // ---- namespaces ---------------------------------------------------

  override def defaultNamespace(): Array[String] = Array("default")

  override def listNamespaces(): Array[Array[String]] = {
    val w = new HPath(warehouse)
    if (!fs.exists(w)) return Array(Array("default"))
    val found = fs.listStatus(w).filter(_.isDirectory).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || isTableDir(p) ||
        isViewDir(p) || isMovedTombstone(p))
      .map(p => Array(p.getName))
    if (found.exists(_.sameElements(Array("default")))) found
    else found :+ Array("default")
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      namespace.sameElements(Array("default")) ||
      (namespace.length == 1 && fs.exists(nsPath(namespace)) &&
        !isTableDir(nsPath(namespace)) &&
        !isViewDir(nsPath(namespace)) &&
        !isMovedTombstone(nsPath(namespace)))

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map("location" -> nsPath(namespace).toString).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    require(namespace.length == 1,
      s"graft namespaces are one level, got ${namespace.mkString(".")}")
    if (namespaceExists(namespace) && fs.exists(nsPath(namespace)))
      throw new NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(nsPath(namespace))
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
      cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) return false
    val p = nsPath(namespace)
    if (!fs.exists(p)) return false
    if (!cascade && fs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    fs.delete(p, true)
  }
}
