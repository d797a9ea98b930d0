package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, GraftSql, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.ops.Snapshots

/** Streaming READ of a [[Snapshots]] table — the source-side complement
  * of `Snapshots.idempotentAppend`: one writer streams INTO the
  * versioned store, any number of downstream queries stream OUT of it,
  * each micro-batch exactly the rows of newly committed versions.
  *
  *   spark.readStream.format("graft-snapshots")
  *     .option("path", dir).load()
  *
  * Offsets ARE snapshot versions: `getOffset` is the table's current
  * version (a manifest listing — no data touched), `getBatch(v1, v2)`
  * is [[Snapshots.changesSince]] — purely the files appended between
  * the two pinned manifests, so a trigger costs exactly the new data
  * regardless of table size, and replays after restart re-read the
  * same immutable files (versions never change under a reader). An
  * overwrite/compact between offsets makes appended-files a lie, and
  * the source FAILS the query rather than feeding wrong deltas (the
  * changesSince contract): re-start the consumer from a full read, or
  * pause maintenance while consumers stream.
  *
  * `startingVersion` (default 0 = everything) makes the first batch
  * skip history already handled elsewhere.
  *
  * `maxVersionsPerTrigger` (default unlimited) is ADMISSION CONTROL —
  * the `maxFilesPerTrigger`/`maxOffsetsPerTrigger` knob of this
  * source: after downtime or a burst writer, an uncapped `getOffset`
  * returns the table head and ONE micro-batch swallows the whole
  * backlog (memory, latency, and retry-cost cliff). With a cap k, each
  * trigger admits at most k committed versions; a backlog of V
  * versions drains in ⌈V/k⌉ exactly-once batches. The cap's BASE (the
  * last offered version) is persisted in the source's metadata
  * directory before the offset is returned, so it is always ≥ any
  * offset Spark has logged: after a restart the source can never offer
  * an end below the checkpointed start. That file is sizing state
  * only — if it is missing (pre-cap checkpoint) or unreadable (crash
  * mid-write), the next trigger admits uncapped once (fail-open to the
  * SAFE side: correctness of exactly-once delivery never depends on
  * it). Note `Trigger.Once` processes a single batch, hence at most k
  * versions when capped — drain a backlog with a running trigger, not
  * one-shot runs.
  *
  * `maxFilesPerTrigger` (default unlimited) caps admission at FILE
  * granularity, closing the burst case versions can't: one giant
  * backfill commit is still one version, and a version cap admits it
  * whole. With a file cap, offsets advance through a version
  * (`v#n` = first n of v's appended files, deterministic order), so
  * even a single multi-thousand-file commit drains across triggers
  * exactly-once. Composes with the version cap (version cap first,
  * then files). The capped path is stricter than [[Snapshots
  * .changesSince]]: a rewrite landing INSIDE the admission window
  * fails the query loudly (per-version slicing would be ill-defined)
  * — pause maintenance while consumers stream, as the class contract
  * already requires.
  *
  * `readChangeFeed` (default false) turns the source into a ROW-LEVEL
  * CHANGE FEED: instead of failing on a merge/delete/update/DV commit
  * (the append-only contract above), each micro-batch emits
  * [[Snapshots.changeFeed]] rows tagged `_change_type`
  * (insert | delete) and `_commit_version` — the mode that lets a CDC
  * consumer FOLLOW a table that receives upserts, which at 100 TB is
  * every table. Append-only stretches keep the fast path (one scan of
  * exactly the appended files); only DML commits pay the file-pruned
  * row-level diff. Composes with `maxVersionsPerTrigger`; refuses
  * `maxFilesPerTrigger` (file slices cannot cut a row-level
  * decomposition). Without the option, the loud-failure contract is
  * unchanged — net-state consumers must not be silently fed deltas
  * they would misinterpret.
  *
  * Reference anchor: the 5-minute tick pipelines
  * (dags/kucoin_main_dag.py:27-28) re-read their upstream tables each
  * tick; this source is that loop with per-tick cost = per-tick data.
  * The reference's funding upserts feeding derived stats
  * (scripts/funding_rates_etl.py:100-111) are exactly the CDC-consumer
  * loop `readChangeFeed` exists for.
  */
class SnapshotSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with RelationProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshots"

  /** Batch READ through the standard reader API —
    * `spark.read.format("graft-snapshots").option("path", dir)
    * [.option("versionAsOf", n)].load()` — time travel included. The
    * relation hands pushed filters to `Snapshots.readWhere` for
    * manifest-stats file pruning (see [[SnapshotRelation]]).
    * `readChangeFeed=true` + `startingVersion` (inclusive; optional
    * inclusive `endingVersion`) returns the row-level change feed
    * instead — the batch twin of the streaming option (see
    * [[ChangeFeedRelation]]). */
  /** `yyyy-MM-dd HH:mm:ss[.f]` or ISO `T`-separated — the spellings a
    * CDC scheduler writes down. The wall-clock resolves in the
    * SESSION timezone (`spark.sql.session.timeZone`), exactly like
    * SQL `TIMESTAMP AS OF` — `java.sql.Timestamp.valueOf` would use
    * the JVM default zone instead, silently shifting the resolved
    * version by the zone offset on any machine whose JVM zone
    * differs from the session's. */
  private def tsOf(opt: String, s: String): java.sql.Timestamp =
    try {
      val local = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
      val zone = java.time.ZoneId.of(
        SparkSession.active.conf.get("spark.sql.session.timeZone"))
      java.sql.Timestamp.from(local.atZone(zone).toInstant)
    } catch {
      case _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"$opt must be 'yyyy-MM-dd HH:mm:ss[.fff]' (T separator " +
            s"accepted), got '$s'")
    }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    def exclusive(a: String, b: String): Unit =
      require(!(parameters.contains(a) && parameters.contains(b)),
        s"$a and $b conflict — give one")
    if (parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))) {
      require(!parameters.contains("versionAsOf"),
        "readChangeFeed and versionAsOf conflict — the feed IS a " +
          "version range; bound it with startingVersion/endingVersion")
      exclusive("startingVersion", "startingTimestamp")
      exclusive("endingVersion", "endingTimestamp")
      val dir = dirOf(sqlContext, parameters)
      val from = parameters.get("startingVersion").map(_.toInt)
        .orElse(parameters.get("startingTimestamp").map(s =>
          Snapshots.versionAtOrAfter(spark, dir,
            tsOf("startingTimestamp", s))))
        .getOrElse(throw new IllegalArgumentException(
          "batch readChangeFeed requires startingVersion (the first " +
            "commit INCLUDED in the feed) or startingTimestamp (first " +
            "commit at-or-after); endingVersion/endingTimestamp bound " +
            "it (default: current version)"))
      require(from >= 1, s"startingVersion must be >= 1, got $from")
      val to = parameters.get("endingVersion").map(_.toInt)
        .orElse(parameters.get("endingTimestamp").map(s =>
          Snapshots.versionAsOf(spark, dir, tsOf("endingTimestamp", s))))
        .getOrElse(-1)
      new ChangeFeedRelation(sqlContext, dir, from, to)
    } else {
      exclusive("versionAsOf", "timestampAsOf")
      val dir = dirOf(sqlContext, parameters)
      // versionAsOf accepts a commit number OR a tag name (tags are
      // non-numeric by construction) — the reader-path spelling of
      // `VERSION AS OF 'training-data-v1'`, same resolution as SQL
      val v = parameters.get("versionAsOf")
        .map(Snapshots.resolveVersionRef(spark, dir, _))
        .orElse(parameters.get("timestampAsOf").map(s =>
          Snapshots.versionAsOf(spark, dir, tsOf("timestampAsOf", s))))
        .getOrElse(-1)
      new SnapshotRelation(sqlContext, dir, v)
    }
  }

  /** Batch WRITE through the standard writer API —
    * `df.write.format("graft-snapshots").mode(...).save(dir)`.
    * SaveMode maps onto the commit protocol: Append →
    * `Snapshots.append` (a new version, CAS-retried), Overwrite →
    * `Snapshots.overwrite` (content replaced, history retained),
    * ErrorIfExists → first commit only, Ignore → no-op on an existing
    * table. The write side has no row-conversion overhead — the
    * incoming frame commits through the same path as the library
    * calls. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val dir = dirOf(sqlContext, parameters)
    val exists =
      Snapshots.currentVersion(sqlContext.sparkSession, dir).isDefined
    mode match {
      case SaveMode.Append => Snapshots.append(data, dir)
      case SaveMode.Overwrite => Snapshots.overwrite(data, dir)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"snapshot table already exists under $dir (SaveMode.ErrorIfExists)")
        Snapshots.append(data, dir)
      case SaveMode.Ignore => if (!exists) Snapshots.append(data, dir)
    }
    createRelation(sqlContext, parameters)
  }

  /** Streaming WRITE into a snapshot table — the sink-side of the same
    * format, so `readStream.format("graft-snapshots")` →
    * `writeStream.format("graft-snapshots")` composes multi-stage
    * exactly-once pipelines without a hand-written foreachBatch.
    * Append mode commits each micro-batch via
    * `Snapshots.idempotentAppend`; Complete mode (aggregation results)
    * replaces the table via `idempotentOverwrite`; Update mode needs
    * `.option("mergeKeys", "k1,k2")` and upserts each micro-batch via
    * `Snapshots.idempotentMerge` — matched keys rewrite only the files
    * their stats touch, the streaming MERGE a CDC consumer wants. In
    * every mode the (writerId, batchId) manifest tag makes a replayed
    * epoch a no-op — exactly-once content under Spark's at-least-once
    * replay. The writer identity defaults to a hash of the query's
    * checkpoint location (stable across restarts, distinct across
    * queries); `.option("writerId", ...)` pins it explicitly, e.g.
    * when a checkpoint must be rebuilt without re-appending history. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-snapshots sink does not support partitionBy — snapshot " +
        "layout is managed at OPTIMIZE/Layout time, not per-batch")
    val mergeKeys = parameters.get("mergeKeys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    if (outputMode == OutputMode.Update())
      require(mergeKeys.exists(_.nonEmpty),
        "graft-snapshots sink in Update mode needs " +
          ".option(\"mergeKeys\", \"k1,k2\") — the upsert key")
    else
      require(outputMode == OutputMode.Append()
          || outputMode == OutputMode.Complete(),
        s"graft-snapshots sink supports Append, Complete and Update " +
          s"(with mergeKeys), got $outputMode")
    val dir = dirOf(sqlContext, parameters)
    val writerId = parameters.get("writerId").getOrElse {
      val ckpt = parameters.getOrElse("checkpointLocation",
        throw new IllegalArgumentException(
          "graft-snapshots sink needs .option(\"writerId\", ...) or a " +
            "checkpointLocation to derive a stable replay identity"))
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(ckpt.getBytes("UTF-8")).map("%02x".format(_)).mkString
      s"sink-${h.take(16)}"
    }
    new SnapshotSink(dir, writerId,
      complete = outputMode == OutputMode.Complete(),
      mergeKeys = if (outputMode == OutputMode.Update()) mergeKeys else None)
  }

  /** The table directory: `.option("path", <dir>)`, or
    * `.option("table", "<catalog>.<ns...>.<name>")` resolved through
    * a registered [[graft.sql.GraftCatalog]] — so batch change-feed
    * reads (and every other path-based surface) address catalog
    * tables by NAME without the caller dereferencing the warehouse
    * layout. Exactly one of the two must be present. */
  private def dirOf(sqlContext: SQLContext,
      parameters: Map[String, String]): String =
    (parameters.get("path"), parameters.get("table")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "graft-snapshots: .option(\"path\") and .option(\"table\") " +
          "are mutually exclusive")
      case (Some(p), None) => p
      case (None, Some(ident)) =>
        val parts = ident.split('.')
        require(parts.length >= 3, "graft-snapshots .option(\"table\") " +
          s"wants '<catalog>.<namespace...>.<table>', got '$ident'")
        val cat = org.apache.spark.sql.graft.GraftSparkBridge
          .catalogByName(sqlContext.sparkSession, parts.head)
        cat match {
          case g: graft.sql.GraftCatalog =>
            g.loadTable(org.apache.spark.sql.connector.catalog.Identifier
              .of(parts.tail.init, parts.last)) match {
              case t: graft.sql.GraftTable => t.dir
              case other => throw new IllegalArgumentException(
                s"'$ident' is not a graft snapshot table: $other")
            }
          case other => throw new IllegalArgumentException(
            s"catalog '${parts.head}' is not a GraftCatalog " +
              s"(${other.getClass.getName})")
        }
      case (None, None) => throw new IllegalArgumentException(
        "graft-snapshots source requires .option(\"path\", <tableDir>) " +
          "or .option(\"table\", <catalog.db.table>)")
    }

  private def changeFeedOf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val base = schema.getOrElse(
      Snapshots.schema(sqlContext.sparkSession, dirOf(sqlContext, parameters)))
    val out =
      if (!changeFeedOf(parameters)) base
      else StructType(base.fields :+
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.IntegerType))
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    def cap(name: String): Option[Int] = parameters.get(name).map { s =>
      val k = s.toInt
      require(k >= 1, s"$name must be >= 1, got $k")
      k
    }
    val changeFeed = changeFeedOf(parameters)
    require(!(changeFeed && parameters.contains("maxFilesPerTrigger")),
      "readChangeFeed composes with maxVersionsPerTrigger only — " +
        "file-granular admission is append-attribution-based and " +
        "cannot slice a DML commit's row-level decomposition")
    require(!(parameters.contains("startingVersion") &&
      parameters.contains("startingTimestamp")),
      "startingVersion and startingTimestamp conflict — give one")
    val dir = dirOf(sqlContext, parameters)
    // startingTimestamp: the commit at-or-after the instant is the
    // FIRST one replayed (versionAtOrAfter − 1 is the exclusive base,
    // matching startingVersion's everything-after semantics)
    val startV = parameters.get("startingVersion").map(_.toInt)
      .orElse(parameters.get("startingTimestamp").map(s =>
        Snapshots.versionAtOrAfter(sqlContext.sparkSession, dir,
          tsOf("startingTimestamp", s)) - 1))
      .getOrElse(0)
    new SnapshotSource(sqlContext, dir, startV,
      cap("maxVersionsPerTrigger"), cap("maxFilesPerTrigger"),
      metadataPath, changeFeed)
  }
}

private[streaming] class SnapshotSource(sqlContext: SQLContext,
    dir: String, startVersion: Int, maxVersionsPerTrigger: Option[Int],
    maxFilesPerTrigger: Option[Int], metadataPath: String,
    changeFeed: Boolean = false)
    extends Source with SupportsTriggerAvailableNow {

  private val spark = sqlContext.sparkSession

  private val tableSchema: StructType = Snapshots.schema(spark, dir)

  override val schema: StructType =
    if (!changeFeed) tableSchema
    else StructType(tableSchema.fields :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType) :+
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.IntegerType))

  /** An offset position: `consumed = -1` means version `v` fully
    * consumed (json is the bare number — LongOffset-compatible, so
    * pre-cap checkpoints replay unchanged); `consumed = n >= 0` means
    * the first n of v's appended files (json `v#n#h`) — the
    * file-granular admission point that lets ONE giant backfill
    * version drain across several triggers. Slicing is deterministic:
    * manifests are immutable and files sort within their version
    * ([[Snapshots.appendedFilesByVersion]]), so a replayed (start,
    * end] re-reads exactly the same files — PROVIDED the attribution
    * walk still sees the same retained versions. `h` pins that: it is
    * a hash of v's full attributed file list at offset-creation time,
    * and [[getBatch]] fails loudly if replaying the walk no longer
    * reproduces it (a vacuum of an intra-window version silently
    * shifts slice indices otherwise — duplicates or skips the
    * append-only guard cannot see, because net file sets are
    * unchanged). Pre-hash checkpoints (`v#n`) parse with no hash and
    * replay under the documented pause-maintenance contract. */
  private case class Slice(v: Int, consumed: Int,
      attribHash: Option[String] = None) {
    def full: Boolean = consumed < 0
  }
  private object Slice {
    def parse(s: String): Slice = s.split('#') match {
      case Array(v, n, h) => Slice(v.trim.toInt, n.trim.toInt, Some(h.trim))
      case Array(v, n) => Slice(v.trim.toInt, n.trim.toInt)
      case _ => Slice(s.trim.toInt, -1)
    }
  }
  private def attribHashOf(files: Seq[String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(files.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
  private def lt(a: Slice, b: Slice): Boolean =
    a.v < b.v ||
      (a.v == b.v && !a.full && (b.full || a.consumed < b.consumed))
  private case class SliceOffset(s: Slice) extends Offset {
    override def json: String =
      if (s.full) s.v.toString
      else s"${s.v}#${s.consumed}${s.attribHash.map("#" + _).getOrElse("")}"
  }

  // ---- admission-control base (sizing state only; see class doc) ----
  private val baseFile = new HPath(metadataPath, "graft-last-offered")
  private val fs = baseFile.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readBase(): Option[Slice] =
    try {
      if (!fs.exists(baseFile)) None
      else {
        val in = fs.open(baseFile)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        Some(Slice.parse(s))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def writeBase(s: Slice): Unit =
    try {
      val out = fs.create(baseFile, true)
      try out.write(SliceOffset(s).json.getBytes("UTF-8")) finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  private var lastOffered: Option[Slice] = readBase().orElse {
    // Fresh query (no offsets logged yet): the first trigger caps from
    // startVersion. A RESTART whose checkpoint predates the base file
    // leaves None — that first post-restart trigger admits uncapped,
    // which can only oversize the batch, never regress an offset.
    val offsetsDir = new HPath(
      new HPath(metadataPath).getParent.getParent, "offsets")
    val hasHistory =
      try fs.exists(offsetsDir) && fs.listStatus(offsetsDir).nonEmpty
      catch { case scala.util.control.NonFatal(_) => true }
    if (hasHistory) None else Some(Slice(startVersion, -1))
  }

  /** The retained version whose manifest precedes `v` — the walk base
    * that makes v's OWN appended files visible to the slicer. */
  private def prevRetained(v: Int): Int =
    Snapshots.versions(spark, dir).filter(_ < v).lastOption.getOrElse(0)

  /** File-budgeted admission: walk the backlog's per-version appended
    * files from `base`, admit up to `budget0` files, stop at `vCap`.
    * Zero-file versions (DDL commits) pass through for free. */
  private def admitFiles(base: Slice, vCap: Int, budget0: Int): Slice = {
    val from = if (base.full) base.v else prevRetained(base.v)
    var budget = budget0
    var end = base
    var done = false
    Snapshots.appendedFilesByVersion(spark, dir, from, vCap).foreach {
      case (v, files) =>
        if (!done && (v > base.v || (v == base.v && !base.full))) {
          val lo = if (v == base.v) base.consumed else 0
          val rem = files.size - lo
          if (rem <= 0) end = Slice(v, -1)
          else if (budget >= rem) {
            budget -= rem; end = Slice(v, -1); done = budget == 0
          } else {
            // partial slice: pin the attribution this index is
            // relative to, so a replay can PROVE it still holds
            end = Slice(v, lo + budget, Some(attribHashOf(files)))
            budget = 0; done = true
          }
        }
    }
    end
  }

  // ---- Trigger.AvailableNow (one-shot backfill) --------------------
  //
  // Implementing SupportsTriggerAvailableNow ourselves matters: the
  // engine's generic v1 wrapper snapshots getOffset ONCE as the run's
  // end bound — but getOffset is ADMISSION-CAPPED
  // (maxVersionsPerTrigger), so the wrapper would drain exactly one
  // capped batch and stop, silently delivering a fraction of the
  // backlog. Here the bound is the TRUE head at query start; batches
  // advance toward it under the normal caps and the run terminates
  // when the committed offset reaches it.
  private var availableNowBound: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    // an EMPTY-at-start table must bound at startVersion (deliver
    // nothing, terminate) — leaving the bound unset would let a
    // continuously-committing writer keep the "one-shot" run alive
    // forever, following commits that postdate the trigger
    availableNowBound = Some(Snapshots.currentVersion(spark, dir)
      .getOrElse(startVersion))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Once SupportsAdmissionControl is implemented, EVERY trigger
    * routes through here (getOffset is legacy): the internal caps and
    * sizing memory all live in [[offerUpTo]]; this adds only the
    * AvailableNow head clamp. */
  override def latestOffset(start: OffsetV2, limit: ReadLimit): OffsetV2 =
    offerUpTo(availableNowBound).orNull

  override def getOffset: Option[Offset] = offerUpTo(None)

  private def offerUpTo(bound: Option[Int]): Option[Offset] = {
    val current = Snapshots.currentVersion(spark, dir)
      .map(h => bound.fold(h)(math.min(h, _)))
      .filter(_ > startVersion)
    current.flatMap { head =>
      val off: Slice = lastOffered match {
        case None => Slice(head, -1) // no sizing memory: fail-open once
        case Some(base) =>
          val vCap = maxVersionsPerTrigger
            .map(k => math.min(head, base.v + k)).getOrElse(head)
          maxFilesPerTrigger match {
            case None => Slice(math.max(vCap, base.v), -1)
            case Some(f) => admitFiles(base, vCap, f)
          }
      }
      if (!lastOffered.contains(off)) {
        // persist BEFORE returning: the base file must always be >= any
        // offset Spark's own log can contain
        writeBase(off)
        lastOffered = Some(off)
      }
      // an offset equal to the last committed one is Spark's own
      // no-new-data signal — it skips the batch
      Some(SliceOffset(off))
    }
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val s = start.map(o => Slice.parse(o.json.trim))
      .getOrElse(Slice(startVersion, -1))
    val to = Slice.parse(end.json.trim)
    // a batch with a START offset proves its predecessor batch is
    // COMMITTED (Spark logs batch N's commit before constructing
    // N+1, and a restart replays from the commit log) — the floor
    // advances here too, because Source.commit only fires when a
    // SUBSEQUENT batch runs (an idle stream would otherwise pin its
    // floor at startVersion forever)
    if (start.isDefined)
      recordFloor(if (s.full) s.v else prevRetained(s.v))
    // a replayed batch after restart also refreshes the sizing base
    if (lastOffered.forall(lt(_, to))) { writeBase(to); lastOffered = Some(to) }
    val delta =
      if (changeFeed) {
        // DML commits in (s, to] decompose row-level instead of
        // failing the query — file caps are refused in this mode, so
        // both slices are full versions
        val cf = Snapshots.changeFeed(spark, dir, s.v, to.v)
        if (cf.columns.toSet == schema.fieldNames.toSet)
          cf.select(schema.fieldNames.toSeq
            .map(org.apache.spark.sql.functions.col): _*)
        else cf
      } else if (s.full && to.full)
        // the uncapped path keeps changesSince's net-state semantics
        Snapshots.changesSince(spark, dir, s.v, to.v)
      else {
        val from = if (s.full) s.v else prevRetained(s.v)
        val walk = Snapshots.appendedFilesByVersion(spark, dir, from, to.v)
        // slice indices are only meaningful under the attribution the
        // offset was created with — a vacuum of an intra-window
        // version shifts per-version file lists with NO net file-set
        // change, which the append-only guard cannot see. The hash
        // pinned in the offset proves the walk still reproduces it.
        Seq(s, to).filter(!_.full).foreach { sl =>
          sl.attribHash.foreach { h =>
            val now = walk.collectFirst { case (v, fl) if v == sl.v => fl }
              .getOrElse(Seq.empty)
            if (attribHashOf(now) != h)
              throw new IllegalStateException(
                s"offset ${SliceOffset(sl).json} of $dir no longer " +
                  "matches the table's retained-version walk — a " +
                  "vacuum removed an intra-window version after this " +
                  "offset was logged, so file-slice indices would " +
                  "misattribute rows. Re-sync the consumer from a " +
                  "full read (and pause maintenance while consumers " +
                  "stream, per the source contract)")
          }
        }
        val files = walk.flatMap { case (v, fl) =>
            if (v < s.v || (v == s.v && s.full)) Nil
            else {
              val lo = if (v == s.v) math.max(0, s.consumed) else 0
              val hi = if (v == to.v && !to.full) to.consumed else fl.size
              fl.slice(lo, hi)
            }
          }
        Snapshots.readAppendedSlice(spark, dir, to.v, files)
      }
    // a RENAME/DROP landing mid-stream changes the table's logical
    // shape under the query's pinned schema — downstream operators
    // would misbind columns. Fail loudly with the remedy instead.
    if (delta.schema.map(f => (f.name, f.dataType)) !=
        schema.map(f => (f.name, f.dataType)))
      throw new IllegalStateException(
        s"snapshot table $dir changed schema mid-stream (was " +
          s"${schema.simpleString}, version $to has " +
          s"${delta.schema.simpleString}) — a RENAME/DROP landed while " +
          "this query ran; restart the streaming query to adopt the " +
          "new shape")
    GraftSql.streamingFrame(delta)
  }

  // ---- retention floor (vacuum coordination) -----------------------
  //
  // The consumer's replay base — the oldest version a restart from
  // the current checkpoint still needs retained — is recorded under
  // the TABLE root keyed by this checkpoint's identity, so a vacuum
  // that would cross it refuses at the operator instead of failing
  // the stream's next restart (Snapshots.recordConsumerFloor).
  private val consumerId = java.security.MessageDigest
    .getInstance("MD5").digest(metadataPath.getBytes("UTF-8"))
    .map("%02x".format(_)).mkString.take(12)
  private var lastFloor = Int.MinValue
  private def recordFloor(v: Int): Unit = if (v > lastFloor) {
    Snapshots.recordConsumerFloor(spark, dir, consumerId,
      math.max(v, 0), metadataPath)
    lastFloor = v
  }
  // a FRESH query needs its startVersion base retained before the
  // first batch ever commits; a RESTART keeps the existing marker —
  // it was written at the previous run's last commit, which is
  // exactly the offset this run replays from (the sizing base file
  // may be AHEAD of the committed offset and must not be trusted)
  // FRESH here means the checkpoint has no committed offsets yet —
  // the same probe lastOffered uses. A normal RESTART must ADOPT the
  // marker (it was written at the previous run's last commit, exactly
  // this run's replay base; startVersion is 0/stale on restarts and
  // must not drag the floor down — an idle stream would then hold
  // retention at 0 forever). A checkpoint RE-CREATED at the same
  // metadataPath (old one deleted, offsets dir empty) must NOT adopt:
  // the stale higher marker would leave this fresh run's replay base
  // (startVersion) unprotected from vacuum — re-record the lower one.
  private def checkpointIsFresh: Boolean = {
    val offsetsDir = new HPath(
      new HPath(metadataPath).getParent.getParent, "offsets")
    try !fs.exists(offsetsDir) || fs.listStatus(offsetsDir).isEmpty
    catch { case scala.util.control.NonFatal(_) => false }
  }
  Snapshots.consumerFloors(spark, dir).find(_.id == consumerId) match {
    case Some(f) if math.max(startVersion, 0) < f.version &&
        checkpointIsFresh =>
      Snapshots.recordConsumerFloor(spark, dir, consumerId,
        math.max(startVersion, 0), metadataPath)
      lastFloor = math.max(startVersion, 0)
    case Some(f) => lastFloor = f.version
    case None => recordFloor(math.max(startVersion, 0))
  }

  override def commit(end: Offset): Unit = {
    val s = Slice.parse(end.json.trim)
    // partial slices re-walk attribution from the previous retained
    // version — that is the floor, not the slice's own version
    recordFloor(if (s.full) s.v else prevRetained(s.v))
  }
  override def stop(): Unit = ()
}

/** The v1 sink behind `writeStream.format("graft-snapshots")` — see
  * [[SnapshotSourceProvider.createSink]]. The micro-batch frame is
  * re-rooted as a batch frame (its plan is streaming-tagged) and
  * committed through the idempotent snapshot writers; a replayed
  * epoch's (writerId, batchId) tag is already in the manifest, so the
  * write degenerates to a no-op and content stays exactly-once. */
private[graft] class SnapshotSink(dir: String, writerId: String,
    complete: Boolean, mergeKeys: Option[Seq[String]] = None) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = GraftSql.batchFrame(data)
    mergeKeys match {
      case Some(keys) =>
        // merge multi-passes its source (key-uniqueness check, footprint,
        // anti-join) — pin the epoch's rows once instead of recomputing
        // the micro-batch lineage per pass
        val pinned = batch.persist()
        try Snapshots.idempotentMerge(pinned.sparkSession, dir, pinned,
          keys, writerId, batchId)
        finally pinned.unpersist()
      case None if complete =>
        Snapshots.idempotentOverwrite(batch, dir, writerId, batchId)
      case None =>
        Snapshots.idempotentAppend(batch, dir, writerId, batchId)
    }
  }

  override def toString: String = s"SnapshotSink[$dir, writer=$writerId]"
}
