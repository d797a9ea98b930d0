package graft.ops

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Not, Or}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.catalyst.catalog.{BucketSpec => CatalogBucketSpec}
import org.apache.spark.sql.graft.GraftSparkBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Versioned snapshot tables — manifest-pinned commits, the isolation
  * model [[Upsert]]/[[Sinks]]'s directory swaps cannot
  * give. A swap replaces the directory a reader is ABOUT to list; a
  * manifest names the exact immutable files of one version, so a
  * reader resolves a version once and is untouchable by every later
  * commit — snapshot isolation — and any retained older version stays
  * readable forever (time travel). This is the minimal core of the
  * public lakehouse-format recipe (Delta/Iceberg): data files are
  * immutable and append-only; a commit is ONE atomic create of the
  * next numbered manifest; whoever loses the create race retries on
  * top of the winner.
  *
  * Layout under the table root:
  * {{{
  *   _manifests/v000000001         one line per data file, relative path
  *   data/<commit-uuid>/part-*.parquet   immutable once the manifest lands
  * }}}
  *
  * Manifests come in two kinds: FULL (every data file of the version)
  * and DELTA (`#delta` header — adds/removes on a base version), so an
  * append's commit metadata is O(batch) rather than O(table); chains
  * are depth-bounded by periodic full checkpoints. See the delta
  * manifests section below.
  *
  * Commit protocol: stage data files (never referenced until a
  * manifest names them), write the manifest body to a dot-temp file,
  * then publish it as `v<next>` via an EXCLUSIVE atomic primitive —
  * the version number is a compare-and-swap. A crash before the
  * publish leaves only ignored garbage (dot-temp manifest, orphan
  * data dir); a crash after is a completed commit. A lost race is
  * retried by ONE loop, [[commitWithRebase]], whose per-verb rebase
  * rule is the only difference between writers: [[append]] re-CASes
  * its staged batch on the new tip while the tip admits it (appends
  * commute), [[overwrite]] always does (last writer wins, its
  * documented semantic), DML does when the interlopers are invisible
  * to its footprint, and metadata DDL and maintenance never do. The
  * CAS itself is PLUGGABLE per filesystem scheme
  * ([[CommitCoordinator]], [[setCommitCoordinator]]) with a built-in
  * matrix: hard-link publish on `file://` (local rename does NOT
  * refuse an existing destination atomically — `link(2)`'s kernel
  * EEXIST does), rename on HDFS (NameNode-side atomic refusal),
  * conditional create on S3/GCS/ABFS (rename there is copy+delete or
  * unproven), or an external lock/commit service.
  *
  * At 100 TB: a manifest is KB-per-thousand-files, the driver touches
  * only manifests, and readers open exactly the files of their
  * version — no directory listing of a giant table root at all, which
  * is itself a scale win over list-based reads.
  *
  * Reference anchor: the reference keeps only "latest state" tables
  * (active_futures_etl.py:96-104 truncate-reload); this op is what
  * those sinks need once yesterday's table must stay queryable.
  */
object Snapshots {

  private val ManifestDir = "_manifests"
  private val DataDir = "data"

  private def fsFor(spark: SparkSession, dir: String): (FileSystem, HPath) = {
    val p = new HPath(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestPath(root: HPath, v: Int): HPath =
    new HPath(new HPath(root, ManifestDir), f"v$v%09d")

  /** Committed versions, ascending (dot-temp files from interrupted
    * commits are ignored — they were never committed). */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val (fs, root) = fsFor(spark, dir)
    versionsFs(fs, root)
  }

  private def versionsFs(fs: FileSystem, root: HPath): Seq[Int] = {
    val listed = try fs.listStatus(new HPath(root, ManifestDir))
      catch { case _: java.io.FileNotFoundException => return Seq.empty }
    listed.map(_.getPath.getName)
      .filter(_.matches("v[0-9]{9}"))
      .map(_.drop(1).toInt).sorted.toSeq
  }

  def currentVersion(spark: SparkSession, dir: String): Option[Int] =
    versions(spark, dir).lastOption

  // ---- reader feature gate --------------------------------------------
  //
  // The manifest format carries directives that are ROW-VISIBILITY
  // critical: a reader that does not understand `#delta`/`#remove`
  // returns the wrong file set, one that skips `#dv` returns deleted
  // rows, one that drops `#ingested` lines in a rewrite breaks
  // copyInto's exactly-once ledger. Unknown directives must therefore
  // FAIL CLOSED, not be skipped — the Delta-style `minReaderVersion`/
  // table-features remedy. A commit whose manifest uses such a
  // directive stamps a `#requires\t<feature>` header (derived from
  // the manifest's own lines in [[casManifest]], so no writer can
  // forget); every manifest read refuses unknown REQUIRED features
  // with a named error. Manifests without `#requires` (all pre-gate
  // tables, and commits using only skip-safe directives like stats or
  // props) read unchanged — the gate costs nothing until a future
  // directive needs it.

  private val RequiresPrefix = "#requires\t"

  /** Features THIS reader understands. A future format change that
    * alters row visibility mints a new name here and in
    * [[requiredFeaturesFor]]; fleets then upgrade readers before any
    * writer may stamp it. */
  private[ops] val SupportedReaderFeatures: Set[String] =
    Set("delta", "dv", "ingest-ledger")

  /** The features a manifest with `lines` REQUIRES of its readers —
    * derived from the lines themselves so the stamp can never drift
    * from the content. Only row-visibility-critical directive classes
    * gate; skip-safe metadata (stats, props, constraints, layout
    * declarations) deliberately does not. */
  private def requiredFeaturesFor(lines: Seq[String]): Seq[String] = {
    val b = Seq.newBuilder[String]
    if (lines.exists(_.startsWith(DeltaPrefix))) b += "delta"
    if (lines.exists(_.startsWith(DvPrefix))) b += "dv"
    if (lines.exists(_.startsWith(IngestedPrefix))) b += "ingest-ledger"
    b.result()
  }

  /** All manifest lines, including `#`-prefixed metadata headers.
    * REFUSES (fail closed) when the manifest requires a reader
    * feature this library does not know — deliberately enforced at
    * the single parse point, so every surface (reads, feeds,
    * maintenance, vacuum) refuses rather than silently mis-reading
    * or rewriting a table whose format it cannot honor. */
  private def manifestLines(fs: FileSystem, root: HPath, v: Int): Seq[String] = {
    val in = fs.open(manifestPath(root, v))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList
      finally in.close()
    val unknown = lines.collect {
      case l if l.startsWith(RequiresPrefix) =>
        l.substring(RequiresPrefix.length)
    }.filterNot(SupportedReaderFeatures)
    if (unknown.nonEmpty)
      throw new UnsupportedOperationException(
        s"manifest v$v of $root requires reader feature(s) " +
          s"${unknown.mkString(", ")} this library version does not " +
          "support — refusing to read: an unknown required directive " +
          "could silently change which rows are visible. Upgrade the " +
          "reader (supported here: " +
          s"${SupportedReaderFeatures.toSeq.sorted.mkString(", ")})")
    lines
  }

  // ---- delta manifests ----------------------------------------------
  //
  // A manifest is either FULL (lists every data file of its version —
  // the original format, still what overwrite/compact/optimize and the
  // first commit write) or a DELTA: `#delta\t<base>\t<depth>` plus
  // `#remove\t<file>` lines, with its plain file lines meaning files
  // ADDED on top of the resolved base. An append's commit metadata is
  // then O(batch), not O(table) — on a table with a million files and
  // thousands of commits, full-manifest-per-commit metadata is
  // O(commits × files) cumulative, the classic quadratic the
  // lakehouse formats solve with a delta log + checkpoints. Chains are
  // depth-bounded: a commit that would exceed [[CheckpointInterval]]
  // writes a full manifest (checkpoint) instead, so resolving any
  // version opens at most CheckpointInterval+1 manifests and the
  // amortized metadata cost per commit is O(files/interval + batch).
  // Stats/size lines for a file live in the manifest that ADDS it
  // (checkpoints re-carry them), so pruning metadata chains the same
  // way. Fully backward compatible: a manifest without the `#delta`
  // header is full, and mixed histories resolve per-manifest.
  // [[casChange]] is the ONLY writer of delta and checkpoint manifests:
  // every commit on top of a base (append, DML, DV verbs, maintenance,
  // metadata-only DDL) names its removed/added files and new vectors
  // there, and it alone decides delta vs checkpoint and carries the
  // surviving files' `#dv`/`#stats` lines into a checkpoint. [[Chain]]
  // is the ONLY reader: a version's files, stats, sizes, vectors and
  // bloom refs come from one walk of its chain, each manifest opened
  // once per call ([[Chains]]).

  /** Max delta-chain depth before a commit writes a full checkpoint. */
  private val CheckpointInterval = 8

  private val DeltaPrefix = "#delta\t"
  private val RemovePrefix = "#remove\t"

  /** (baseVersion, depth) if the lines are a delta manifest's. */
  private def deltaHeader(lines: Seq[String]): Option[(Int, Int)] =
    lines.collectFirst {
      case l if l.startsWith(DeltaPrefix) =>
        val f = l.split('\t')
        (f(1).toInt, f(2).toInt)
    }

  /** One version's manifest chain, resolved. `lines` are the version's
    * own manifest — its [[Meta]], `#op`, props and `#ingested` parse
    * from them; every other field folds these lines onto the base's
    * value, on first use. A file's `#stats`/`#size`/`#bloom` lines live
    * in the manifest that ADDED it (checkpoints re-carry them) and its
    * current vector is the newest `#dv` line down the chain, so the
    * maps keep entries of files the chain later removed — harmless:
    * every lookup restricts to [[files]]. Built by [[Chains]] only. */
  private final class Chain(val lines: Seq[String], resolve: Int => Chain) {
    private val delta = deltaHeader(lines)
    /** The version this delta applies to; None for a full manifest. */
    def baseVersion: Option[Int] = delta.map(_._1)
    /** Chain depth (0 = full manifest). */
    def depth: Int = delta.fold(0)(_._2)
    private lazy val base = baseVersion.map(resolve)
    private def own(prefix: String): Seq[Array[String]] =
      lines.filter(_.startsWith(prefix)).map(_.split('\t'))
    private def chained[K, V](own: Map[K, V])(of: Chain => Map[K, V]) =
      base.fold(own)(of(_) ++ own)

    lazy val meta: Meta = metaOf(lines)

    /** The data files, in commit order: the base's survivors first,
      * then this commit's adds. */
    lazy val files: Seq[String] = {
      val adds = lines.filterNot(_.startsWith("#"))
      base.fold(adds) { b =>
        val removed = lines.collect {
          case l if l.startsWith(RemovePrefix) =>
            l.substring(RemovePrefix.length)
        }.toSet
        b.files.filterNot(removed) ++ adds
      }
    }

    /** file → physical column → stats. Files or columns absent simply
      * have no stats (older writers, post-cap columns) and never
      * prune. */
    lazy val stats: Map[String, Map[String, ColStats]] = chained(
      own("#stats\t").collect {
        case Array(_, file, rows, colEnc, nulls, mnF, mxF) =>
          def parse(fld: String): Option[String] =
            if (fld == "null") None else Some(dec(fld.stripPrefix("v:")))
          (file, dec(colEnc),
            ColStats(parse(mnF), parse(mxF), nulls.toLong, rows.toLong))
        // an unknown stats dialect is ignored: it never prunes
      }.groupBy(_._1)
        .map { case (f, xs) => f -> xs.map(x => x._2 -> x._3).toMap })(
      _.stats)

    /** A file's commit-time row count. */
    def rowsOf(f: String): Option[Long] =
      stats.get(f).flatMap(_.headOption.map(_._2.rows))

    /** file → recorded commit-time byte size. */
    lazy val sizes: Map[String, Long] = chained(own("#size\t").collect {
      case Array(_, file, bytes) => file -> bytes.toLong
    }.toMap)(_.sizes)

    /** file → (sidecar, deleted-count): the newest line wins (a vector
      * UPDATES as deletes accrete). */
    lazy val dv: Map[String, (String, Long)] = chained(own(DvPrefix).collect {
      case Array(_, f, side, n) => f -> (side, n.toLong)
    }.toMap)(_.dv)

    /** file → physical column → bloom sidecar path. */
    lazy val bloomRefs: Map[String, Map[String, String]] = chained(
      own(BloomLinePrefix).collect {
        case Array(_, file, colEnc, side) => (file, dec(colEnc), side)
      }.groupBy(_._1)
        .map { case (f, xs) => f -> xs.map(x => x._2 -> x._3).toMap })(
      _.bloomRefs)

    /** The raw `#stats`/`#size`/`#bloom` lines down the chain, base
      * first, each once (a file's lines are written once, where it was
      * added, and copied verbatim into checkpoints — `distinct` folds
      * the copies). */
    lazy val fileLines: Seq[String] = {
      val mine = lines.filter(l => l.startsWith("#stats\t") ||
        l.startsWith("#size\t") || l.startsWith(BloomLinePrefix))
      base.fold(mine)(b => (b.fileLines ++ mine).distinct)
    }

    /** [[fileLines]] of `keep` — what a commit carries forward for the
      * files it keeps. */
    def fileLinesOf(keep: Set[String]): Seq[String] = fileLines.filter { l =>
      val f = l.split('\t')
      f.length >= 2 && keep.contains(f(1))
    }
  }

  /** The chain resolver of ONE call: [[Chain]]s by version, each
    * manifest opened at most once — a walk over N versions resolves
    * each delta on top of its base's value instead of re-reading the
    * chain per version. Published manifests are immutable, so the memo
    * is exact while the call runs; it is never kept across calls. */
  private final class Chains(val fs: FileSystem, val root: HPath) {
    private val memo = scala.collection.mutable.HashMap.empty[Int, Chain]
    def apply(v: Int): Chain = memo.getOrElse(v, {
      val c = new Chain(manifestLines(fs, root, v), apply(_))
      memo(v) = c
      c
    })
  }

  private def chainsFor(spark: SparkSession, dir: String): Chains = {
    val (fs, root) = fsFor(spark, dir)
    new Chains(fs, root)
  }

  /** `version` of `dir` (the current one when negative, listed ONCE) as
    * the base a call resolves everything against; None when nothing is
    * committed. */
  private def atOpt(spark: SparkSession, dir: String,
      version: Int): Option[At] = {
    val chains = chainsFor(spark, dir)
    (if (version >= 0) Some(version)
    else versionsFs(chains.fs, chains.root).lastOption)
      .map(At(spark, dir, _, unpinned = version < 0, chains))
  }

  /** [[atOpt]] for the reads that need a committed version. */
  private def resolveAt(spark: SparkSession, dir: String, version: Int): At =
    atOpt(spark, dir, version).getOrElse(throw
      new java.util.NoSuchElementException(s"no committed version under $dir"))

  /** The table at `version` (default: latest). The returned plan names
    * this version's exact files — later commits, and even a concurrent
    * overwrite landing mid-query, cannot change or tear what this
    * reader sees (the files are immutable until [[vacuum]]). An empty
    * version (overwrite with an empty frame) is unrepresentable by
    * design — commits stage at least one parquet file. */
  def read(spark: SparkSession, dir: String, version: Int = -1): DataFrame =
    resolveAt(spark, dir, version).table

  /** The schema [[read]] returns for `version` (default: latest), from
    * its manifest alone — no data file is listed or opened unless the
    * version predates schema pinning. */
  def schema(spark: SparkSession, dir: String, version: Int = -1): StructType =
    resolveAt(spark, dir, version).readSchema

  /** TIMESTAMP AS OF resolution: the newest version committed at or
    * before `ts` (manifest modification time — the commit instant, set
    * by the CAS rename). Completes the time-travel surface next to
    * version pinning: "the table as of last night's report run"
    * without the caller bookkeeping version numbers. Caveat shared
    * with the lakehouse formats: commit instants are the storage
    * system's clock; sub-second ordering between racing writers is as
    * trustworthy as that clock. Throws if the table's oldest retained
    * commit postdates `ts`. */
  def versionAsOf(spark: SparkSession, dir: String,
      ts: java.sql.Timestamp): Int = {
    val (fs, root) = fsFor(spark, dir)
    val vs = versions(spark, dir)
    val at = vs.filter(v =>
      fs.getFileStatus(manifestPath(root, v)).getModificationTime
        <= ts.getTime)
    at.lastOption.getOrElse(throw new java.util.NoSuchElementException(
      s"no version of $dir committed at or before $ts " +
        s"(oldest retained: ${vs.headOption.getOrElse(-1)})"))
  }

  /** The FIRST version committed at or after `ts` — the resolution
    * behind `startingTimestamp` on the change feed (a CDC consumer
    * that knows WHEN it last synced, not which version). Refuses when
    * every retained commit predates `ts` — an empty feed would look
    * like "no changes" when the truth is "nothing committed since",
    * and the two need different consumer reactions. */
  def versionAtOrAfter(spark: SparkSession, dir: String,
      ts: java.sql.Timestamp): Int = {
    val (fs, root) = fsFor(spark, dir)
    val vs = versions(spark, dir)
    vs.find(v =>
      fs.getFileStatus(manifestPath(root, v)).getModificationTime
        >= ts.getTime)
      .getOrElse(throw new java.util.NoSuchElementException(
        s"no version of $dir committed at or after $ts (newest: " +
          s"${vs.lastOption.getOrElse(-1)}) — nothing to replay; " +
          "sync from startingVersion, or wait for a commit"))
  }

  /** [[read]] pinned by commit time instead of version number. */
  def readAsOf(spark: SparkSession, dir: String,
      ts: java.sql.Timestamp): DataFrame =
    read(spark, dir, versionAsOf(spark, dir, ts))

  /** The supported prune vocabulary: conjuncts of `col op literal`
    * comparisons, `IN` lists, and null tests over a stat-carrying
    * column — and DISJUNCTIONS of (conjunctions of) those shapes
    * (`ts >= a AND ts < b OR ts >= c AND ts < d`, the OR-of-ranges a
    * month-boundary or backfill-window predicate compiles to): a file
    * is skipped under an OR only when EVERY disjunct disproves it.
    * Anything else in the predicate is simply not used for pruning (it
    * still filters rows) — unrecognized shapes can only cost reads,
    * never correctness. */
  private sealed trait Conj { def colName: String }
  private case class Cmp(colName: String, op: String, lit: Literal)
    extends Conj
  private case class InSet(colName: String, lits: Seq[Literal]) extends Conj
  private case class NullTest(colName: String, isNull: Boolean) extends Conj

  /** Is `Cast(from → to)` a cast the prune comparison replays EXACTLY?
    * Two conditions must hold for unwrapping to be sound:
    * (1) the cast is monotone non-decreasing (so the file's native
    * min/max map to bounds of the cast values), and (2) Spark's
    * comparison coercion for (native stat, cast-typed literal) inserts
    * the SAME cast on the stat side — i.e. `to` is the wider type of
    * the pair. Widening numeric promotions and date→timestamp satisfy
    * both; anything else (timestamp→date truncation, string→int,
    * narrowing, decimal→int …) is rejected and the conjunct simply
    * never prunes (fail-open, rows still filtered). This mirrors the
    * safe subset of Spark's own UnwrapCastInBinaryComparison. */
  private def monotonicWidening(from: DataType, to: DataType): Boolean = {
    def iRank(t: DataType): Int = t match {
      case ByteType => 1; case ShortType => 2
      case IntegerType => 3; case LongType => 4; case _ => 0
    }
    (from, to) match {
      case (f, t) if f == t => true
      case (f, t) if iRank(f) > 0 && iRank(t) > 0 => iRank(f) <= iRank(t)
      // integral → float/double and float → double: monotone (IEEE
      // round-to-nearest preserves order) and exactly the comparison
      // promotion Spark applies to the (native, literal) pair
      case (f, FloatType) => iRank(f) > 0
      case (f, DoubleType) =>
        iRank(f) > 0 || f == FloatType || f.isInstanceOf[DecimalType]
      case (f, d: DecimalType) if iRank(f) > 0 =>
        // enough integer digits for every value of the source type
        val needed = Seq(3, 5, 10, 19)(iRank(f) - 1)
        d.precision - d.scale >= needed
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      // date → timestamp promotes to midnight (session TZ — the same
      // zone the filter's own cast uses), order-preserving
      case (DateType, TimestampType | TimestampNTZType) => true
      case _ => false
    }
  }

  /** The column a comparison side refers to, seen through the implicit
    * casts analysis inserts (comparing an int column to a long literal
    * analyzes as `Cast(col) >= lit`). Only provably-safe widening casts
    * are unwrapped ([[monotonicWidening]]): the prune comparison is
    * built from the cast-typed literal against the NATIVE-typed stats,
    * so it is sound exactly when Spark re-inserts the identical
    * widening there. A non-order-preserving cast (e.g.
    * `col("ts").cast("date") === lit(d)`) would otherwise skip files
    * that contain matching rows. */
  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case c: Cast if monotonicWidening(c.child.dataType, c.dataType) =>
      attrName(c.child)
    case _ => None
  }

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
    case x => Seq(x)
  }

  /** Negation normal form over the prune vocabulary — NOT pushed to the
    * atoms so `filter(!pred)` shapes (deleteWhere's survivor proof, a
    * user's NOT IN-range read) become recognizable conjuncts. Sound for
    * the TRUE-set question pruning asks: in Kleene 3-valued logic
    * ¬(a∧b) ≡ ¬a∨¬b identically, and a flipped comparison (¬(c<x) →
    * c≥x) is TRUE on exactly the rows that make the negation TRUE —
    * NULL rows satisfy neither side and stay unprovable either way.
    * Negations with no vocabulary dual (¬=, ¬IN, anything opaque)
    * remain wrapped in Not and simply never prune (fail-open). */
  private def nnf(e: Expression, neg: Boolean = false): Expression =
    e match {
      case Not(x) => nnf(x, !neg)
      case And(l, r) =>
        if (neg) Or(nnf(l, neg = true), nnf(r, neg = true))
        else And(nnf(l), nnf(r))
      case Or(l, r) =>
        if (neg) And(nnf(l, neg = true), nnf(r, neg = true))
        else Or(nnf(l), nnf(r))
      case x if !neg => x
      case GreaterThan(a, b) => LessThanOrEqual(a, b)
      case GreaterThanOrEqual(a, b) => LessThan(a, b)
      case LessThan(a, b) => GreaterThanOrEqual(a, b)
      case LessThanOrEqual(a, b) => GreaterThan(a, b)
      case IsNull(a) => IsNotNull(a)
      case IsNotNull(a) => IsNull(a)
      case x => Not(x) // no dual in the vocabulary: fail-open
    }

  private def disjunctsOf(e: Expression): Seq[Expression] = e match {
    case Or(l, r) => disjunctsOf(l) ++ disjunctsOf(r)
    case x => Seq(x)
  }

  /** The comparison side as a Literal — folding deterministic constant
    * expressions that ANALYSIS leaves unfolded (constant folding is an
    * optimizer rule, and pruning runs on the analyzed plan): a
    * date-range filter is typically `ts >= Cast('1994-01-01' as ts)`,
    * which must prune exactly like the pre-folded literal would. */
  private def litOf(e: Expression): Option[Literal] = e match {
    case l: Literal => Some(l)
    case x if x.foldable && x.deterministic =>
      try Some(Literal.create(x.eval(), x.dataType))
      catch { case NonFatal(_) => None } // un-evaluable: never prune
    case _ => None
  }

  private object FoldedLit {
    def unapply(e: Expression): Option[Literal] = litOf(e)
  }

  private def recognize(e: Expression): Option[Conj] = e match {
    case EqualTo(a, FoldedLit(l)) => attrName(a).map(Cmp(_, "=", l))
    case EqualTo(FoldedLit(l), a) => attrName(a).map(Cmp(_, "=", l))
    case GreaterThan(a, FoldedLit(l)) => attrName(a).map(Cmp(_, ">", l))
    case GreaterThan(FoldedLit(l), a) => attrName(a).map(Cmp(_, "<", l))
    case GreaterThanOrEqual(a, FoldedLit(l)) =>
      attrName(a).map(Cmp(_, ">=", l))
    case GreaterThanOrEqual(FoldedLit(l), a) =>
      attrName(a).map(Cmp(_, "<=", l))
    case LessThan(a, FoldedLit(l)) => attrName(a).map(Cmp(_, "<", l))
    case LessThan(FoldedLit(l), a) => attrName(a).map(Cmp(_, ">", l))
    case LessThanOrEqual(a, FoldedLit(l)) => attrName(a).map(Cmp(_, "<=", l))
    case LessThanOrEqual(FoldedLit(l), a) => attrName(a).map(Cmp(_, ">=", l))
    case In(a, ls) if ls.nonEmpty =>
      val folded = ls.map(litOf)
      if (folded.forall(_.isDefined))
        attrName(a).map(InSet(_, folded.map(_.get)))
      else None
    case IsNull(a) => attrName(a).map(NullTest(_, isNull = true))
    case IsNotNull(a) => attrName(a).map(NullTest(_, isNull = false))
    case _ => None
  }

  /** Split version `v`'s files into (kept, skipped) under `pred`,
    * using the manifest's per-file min/max/null stats — the
    * data-skipping decision itself, exposed for observability and
    * tests. A file is skipped only when a recognized conjunct PROVES no
    * row can match (interval disjoint, or the conjunct is a comparison
    * and the file has no non-null values); missing stats, unrecognized
    * conjuncts, and null-comparison edge cases all keep the file.
    * Driver cost is one local DataFrame of #files rows; comparisons
    * are evaluated BY Spark on the column's real type (stat strings
    * cast back with the table schema), so numeric/date/timestamp/
    * string semantics — including `5 < 'abc'`-style implicit casts —
    * are exactly the filter's own. */
  def pruneFiles(spark: SparkSession, dir: String, pred: Column,
      version: Int = -1): (Seq[String], Seq[String]) =
    pruneAt(resolveAt(spark, dir, version), pred)

  private def pruneAt(at: At, pred: Column): (Seq[String], Seq[String]) = {
    val (files, keeps) = pruneKeepSets(at, Seq(pred))
    files.partition(keeps.head.contains)
  }

  /** Both polarity verdicts in ONE stats pass: `(mayMatch, pruned,
    * survivors)` where `survivors` is the set of files `!pred` may
    * still match — the complement is [[splitDropWholeWith]]'s all-match
    * disproof. One manifest/stats read and one driver-local evaluation
    * instead of the two a pruneFiles-per-polarity pair costs; every
    * CoW DELETE/REPLACE commit and every stats-decided filtered
    * aggregate takes this path. */
  private def pruneBoth(at: At,
      pred: Column): (Seq[String], Seq[String], Set[String]) = {
    val (files, keeps) = pruneKeepSets(at, Seq(pred, !pred))
    val (mayMatch, pruned) = files.partition(keeps.head.contains)
    (mayMatch, pruned, keeps(1))
  }

  /** Per-predicate KEEP sets over version `v`'s files in one shared
    * pass: `keeps(i)` holds the files predicate i may match (all files
    * minus its provably-empty set). Manifest, stats, bloom refs, and
    * the local evaluation frame are paid ONCE for every predicate. A
    * predicate with no recognizable atoms keeps every file (fail-open,
    * per predicate). */
  private def pruneKeepSets(at: At, preds: Seq[Column])
      : (Seq[String], Seq[Set[String]]) = {
    import at.{chain, spark, table}
    val files = chain.files
    val stats = chain.stats
    val schema = table.schema
    def keepAll = (files, preds.map(_ => files.toSet))
    // resolve each predicate the way the scan itself will: analysis
    // turns Column nodes into typed catalyst comparisons (casts
    // included)
    val resolvedSeq: Seq[Option[Expression]] = preds.map(p =>
      table.filter(p).queryExecution.analyzed
        .collectFirst { case f: Filter => f.condition })
    def resolveAtom(e: Expression): Option[(Conj, DataType)] =
      recognize(e).flatMap { c => // table's canonical column casing
        schema.fields.find(_.name.equalsIgnoreCase(c.colName)).map { f =>
          (c match {
            case x: Cmp => x.copy(colName = f.name)
            case x: InSet => x.copy(colName = f.name)
            case x: NullTest => x.copy(colName = f.name)
          }, f.dataType)
        }
      }
    // conjunct → its disjuncts → each disjunct's recognized atoms. A
    // disjunct with NO recognized atoms cannot be disproven, which
    // makes its whole conjunct unable to prune (fail-open) — the fold
    // below encodes that naturally (empty OR-fold = false).
    val itemsSeq: Seq[Seq[Seq[Seq[(Conj, DataType)]]]] =
      resolvedSeq.map(_.map(nnf(_)).toSeq.flatMap(conjunctsOf).map {
        item =>
          disjunctsOf(item).map(d => conjunctsOf(d).flatMap(resolveAtom))
      })
    val atoms = itemsSeq.flatten.flatten.flatten
    if (atoms.isEmpty) return keepAll
    // stats lines are keyed by the files' PHYSICAL column names; the
    // predicate's atoms are logical — translate at lookup (identity
    // unless the column was renamed)
    val physByLogical: Map[String, String] =
      schema.fields.map(f => f.name -> physOf(f)).toMap
    // bloom probes: `=` / IN atoms over bloom-indexed columns, tested
    // against per-file sidecars in executors ([[probeBlooms]])
    val bloomCfg = at.meta.bloom
    val bloomRefs: Map[String, Map[String, String]] =
      if (bloomCfg.isEmpty) Map.empty else chain.bloomRefs
    def probeOf(conj: Conj): Option[(String, Seq[Any])] =
      bloomCfg.flatMap { cfg =>
        val phys = physByLogical.getOrElse(conj.colName, conj.colName)
        if (!cfg.cols.contains(phys)) None
        else conj match {
          case Cmp(_, "=", l) => bloomValue(l).map(bv => phys -> Seq(bv))
          case InSet(_, ls) =>
            val vs = ls.map(bloomValue)
            if (vs.nonEmpty && vs.forall(_.isDefined))
              Some(phys -> vs.flatten)
            else None
          case _ => None
        }
      }
    val probes: Seq[(Conj, String, Seq[Any])] = atoms.map(_._1).distinct
      .flatMap(c => probeOf(c).map(pv => (c, pv._1, pv._2)))
    val haveBloom = probes.nonEmpty && bloomRefs.nonEmpty
    if (stats.isEmpty && !haveBloom) return keepAll
    val bloomKill: Map[String, Set[Int]] =
      if (!haveBloom) Map.empty
      else probeBlooms(spark, at.root.toString, files, bloomRefs, probes)
    val probeIdx: Map[Conj, Int] =
      probes.zipWithIndex.map { case ((c, _, _), i) => c -> i }.toMap
    val colType = atoms.map { case (c, t) => c.colName -> t }.toMap
    val refCols = atoms.map(_._1.colName).distinct
    val rawSchema = StructType(StructField("__file", StringType, false) +:
      (refCols.flatMap(c => Seq(
        StructField(s"__has_$c", BooleanType, false),
        StructField(s"__mns_$c", StringType, true),
        StructField(s"__mxs_$c", StringType, true),
        StructField(s"__nul_$c", LongType, true),
        StructField(s"__row_$c", LongType, true))) ++
        probes.indices.map(i =>
          StructField(s"__bf_$i", BooleanType, false))))
    val rows = files.map { f =>
      val perCol = stats.getOrElse(f, Map.empty)
      val kills = bloomKill.getOrElse(f, Set.empty)
      Row.fromSeq(f +: (refCols.flatMap { c =>
        perCol.get(physByLogical.getOrElse(c, c)) match {
          case Some(s) =>
            Seq(true, s.min.orNull, s.max.orNull, s.nulls, s.rows)
          case None => Seq(false, null, null, null, null)
        }
      } ++ probes.indices.map(kills.contains)))
    }
    // a local relation: the projection and verdicts below evaluate on
    // the driver, no Spark job
    val typed = spark.createDataFrame(rows.asJava, rawSchema)
      .select(col("__file") +: (refCols.flatMap { c =>
        val t = colType(c)
        Seq(col(s"__has_$c"),
          col(s"__mns_$c").cast(t).as(s"__mn_$c"),
          col(s"__mxs_$c").cast(t).as(s"__mx_$c"),
          col(s"__nul_$c"), col(s"__row_$c"))
      } ++ probes.indices.map(i => col(s"__bf_$i"))): _*)
    // proven-empty for ONE atom; every null/unknown path defaults to
    // false (cannot disprove). mn/mx are BOUNDS, not necessarily
    // attained values (string stats are prefix-truncated — see
    // StatsTracker and truncMinStat), and every test below is
    // bound-sound: it only ever prunes when the bound interval excludes
    // the literal.
    def atomNot(conj: Conj): Column = {
      val c = conj.colName
      val has = col(s"__has_$c")
      val mn = col(s"__mn_$c"); val mx = col(s"__mx_$c")
      val definitelyNot: Column = conj match {
        case Cmp(_, op, l) =>
          val lv = GraftSql.column(l)
          val miss = op match {
            case "=" => !(mn <= lv && lv <= mx)
            case ">" => !(mx > lv)
            case ">=" => !(mx >= lv)
            case "<" => !(mn < lv)
            case "<=" => !(mn <= lv)
          }
          mn.isNull || coalesce(miss, lit(false))
        case InSet(_, ls) =>
          // ONE exists() over an array literal, not |ls| inlined
          // comparisons: merge footprints run to 1024 literals, and
          // the expanded disjunction blows the JVM's 64 KB generated-
          // method limit — janino refuses, and Spark pays a failed
          // whole-stage compile (~300 ms + an ERROR log) before
          // falling back to the interpreter on every big-IN prune.
          // The higher-order form keeps the generated code O(1) in
          // the list size (the loop is runtime data, not source).
          val arr = array(ls.toIndexedSeq.map(l => GraftSql.column(l)): _*)
          val any = exists(arr, lv => mn <= lv && lv <= mx)
          mn.isNull || coalesce(!any, lit(false))
        case NullTest(_, true) =>
          coalesce(col(s"__nul_$c") <= 0L, lit(false))
        case NullTest(_, false) => mn.isNull
      }
      val statsNot = has && coalesce(definitelyNot, lit(false))
      // a bloom negative is its own proof — it needs no stats line
      probeIdx.get(conj) match {
        case Some(i) => statsNot || col(s"__bf_$i")
        case None => statsNot
      }
    }
    // keep = NOT (every disjunct of some conjunct disproven); a
    // predicate with no recognized items cannot prune anything
    def keepCondOf(items: Seq[Seq[Seq[(Conj, DataType)]]]): Column =
      if (items.isEmpty) lit(true)
      else items.map { disjuncts =>
        val itemNot = disjuncts
          .map(_.map(a => atomNot(a._1)).foldLeft(lit(false))(_ || _))
          .reduce(_ && _)
        !itemNot
      }.reduce(_ && _)
    val verdicts = typed.select(col("__file") +:
      itemsSeq.zipWithIndex.map { case (items, i) =>
        keepCondOf(items).as(s"__keep_$i")
      }: _*).collect()
    val keeps = preds.indices.map(i =>
      verdicts.filter(_.getBoolean(i + 1)).map(_.getString(0)).toSet)
    (files, keeps)
  }

  /** [[read]] with manifest-stats data skipping: files whose min/max
    * stats prove they cannot satisfy `pred` are never opened, and
    * `pred` is then applied as a normal row filter — results are
    * always identical to `read(...).filter(pred)`, pruning only
    * changes which files the scan touches. The 100 TB read path for a
    * clustered snapshot table: [[optimize]] makes per-file ranges
    * narrow, this makes narrow ranges pay. */
  def readWhere(spark: SparkSession, dir: String, pred: Column,
      version: Int = -1): DataFrame = {
    // ONE resolution of "current": the prune and the scan share it
    val at = resolveAt(spark, dir, version)
    val (kept, _) = pruneAt(at, pred)
    (if (kept.isEmpty) at.table.limit(0) else at.scan(kept)).filter(pred)
  }

  /** Metadata-only aggregates: `count(*)`, and per requested column
    * `count(col)` / `min(col)` / `max(col)`, answered ENTIRELY from the
    * manifest's per-file stats — zero data files opened. On a 100 TB
    * table this turns the most common observability queries (row
    * counts, freshness watermarks like `max(event_ts)`, null audits)
    * from full scans into a driver-side read of a few KB of manifest
    * lines — the lakehouse "metadata-only query" optimization.
    *
    * EXACT-OR-REFUSE: returns None unless the manifest PROVES the
    * exact answer — every file of the version must carry stats for
    * every requested column. Missing stats (a column beyond the
    * [[StatsMaxCols]] cap, files predating an added column, a
    * pre-stats writer) and string columns (their manifest min/max are
    * truncated BOUNDS, not attained values — see [[truncMinStat]])
    * refuse rather than approximate; the caller falls back to a scan.
    * Per-file minima/maxima are attained values for every accepted
    * type, and their string rendering round-trips exactly through
    * Spark's own cast (see [[StatsTracker]]), so the fold below equals
    * the scan aggregate bit-for-bit.
    *
    * Result: one row — `n_rows` plus `n_<col>`, `min_<col>`,
    * `max_<col>` (native column type; null when the column is null in
    * every row). Columns resolve by logical name (rename-safe: stats
    * are looked up under the physical name). */
  def aggregateFromManifest(spark: SparkSession, dir: String,
      cols: Seq[String], version: Int = -1): Option[DataFrame] = {
    atOpt(spark, dir, version).flatMap { at =>
      val chain = at.chain
      at.pinned.flatMap { schema =>
        val resolved: Seq[Option[StructField]] = cols.map(c =>
          schema.fields.find(_.name.equalsIgnoreCase(c))
            .filter(f => statEligible(f.dataType)))
        val files = chain.files
        // deletion vectors make per-file COLUMN stats bounds, not
        // attained values (the deleted rows' values are unknown), so
        // min/max/count(col) refuse — but count(*) stays exact: each
        // `#dv` line records its vector's exact distinct-position
        // count, so n_rows = Σ file rows − Σ vector positions. A
        // GDPR-trickle table keeps its metadata-only row count.
        val dvTotal = {
          val fileSet = files.toSet
          chain.dv.iterator.collect {
            case (f, (_, n)) if n > 0 && fileSet.contains(f) => n
          }.sum
        }
        if (resolved.exists(_.isEmpty) || files.isEmpty ||
          (dvTotal > 0 && cols.nonEmpty)) None
        else {
          val fields = resolved.flatten
          val stats = chain.stats
          // one raw row per file: rows + (min, max, nulls) per column,
          // or None if any file lacks a required stats line
          val raws: Seq[Option[Row]] = files.map { f =>
            val per = stats.getOrElse(f, Map.empty)
            val perCol = fields.map(fd => per.get(physOf(fd)))
            if (per.isEmpty || perCol.exists(_.isEmpty)) None
            else Some(Row.fromSeq(per.head._2.rows +:
              perCol.flatten.flatMap(s =>
                Seq(s.min.orNull, s.max.orNull, s.nulls))))
          }
          if (raws.exists(_.isEmpty)) None
          else Some(statsFoldFrame(spark, raws.flatten, fields, dvTotal))
        }
      }
    }
  }

  /** The stats-string → typed one-row aggregate fold shared by the
    * whole-table metadata aggregate and the filtered stats-decided
    * aggregate: `raws` carries one row per decided file —
    * `(rows, then per-field (min-string, max-string, nulls))` — and
    * the result carries `n_rows` (− `dvAdjust`) plus
    * `n_/min_/max_<col>` in each column's native type. The cast
    * round-trip contract (stat strings re-cast with the table schema)
    * lives here, in ONE place. */
  private def statsFoldFrame(spark: SparkSession, raws: Seq[Row],
      fields: Seq[StructField], dvAdjust: Long = 0L): DataFrame = {
    val rawSchema = StructType(
      StructField("__rows", LongType, false) +:
        fields.zipWithIndex.flatMap { case (_, i) => Seq(
          StructField(s"__mn_$i", StringType, true),
          StructField(s"__mx_$i", StringType, true),
          StructField(s"__nul_$i", LongType, false))
        })
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(raws, 1), rawSchema)
    val aggs =
      (sum(col("__rows")) - lit(dvAdjust)).as("n_rows") +:
      fields.zipWithIndex.flatMap { case (fd, i) => Seq(
        sum(col("__rows") - col(s"__nul_$i")).as(s"n_${fd.name}"),
        min(col(s"__mn_$i").cast(fd.dataType)).as(s"min_${fd.name}"),
        max(col(s"__mx_$i").cast(fd.dataType)).as(s"max_${fd.name}"))
      }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Whether a column's manifest min/max are provably-exact ATTAINED
    * values: strings are excluded (their stat bounds are truncated —
    * never provably attained). */
  private def statEligible(t: DataType): Boolean = t match {
    case StringType => false
    case _: NumericType | DateType | TimestampType |
         TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** What a [[countWhere]] decided from stats alone: `count` is the
    * exact answer; `allMatchFiles` contributed their full live row
    * count without being opened, `prunedFiles` contributed zero
    * without being opened, and only `scannedFiles` were read. */
  final case class CountWhereResult(count: Long, allMatchFiles: Int,
    scannedFiles: Int, prunedFiles: Int)

  /** Exact `count(*) WHERE pred` with stats-DECIDED files — the
    * metadata fast path [[aggregateFromManifest]] cannot take once a
    * predicate is present. Files split three ways against the
    * manifest's per-file stats:
    *
    *   - provably NO row matches ([[pruneFiles]]) → contribute 0;
    *   - provably EVERY row matches (interval disproof of `!pred`
    *     plus the null-free guard on referenced columns — the
    *     [[deleteWhere]] drop-whole test) → contribute their live
    *     row count (manifest rows − deletion-vector positions) with
    *     no data file opened;
    *   - undecided (typically the boundary files of a range
    *     predicate) → one distributed scan of exactly those files.
    *
    * On a range-clustered 100 TB table a time-window count opens the
    * window's BOUNDARY files only — cost is O(boundary), not
    * O(window). Every proof obligation fails open into the scan set,
    * so the count is exact for arbitrary deterministic predicates.
    * [[aggregateWhereFrame]] is the lazy-frame generalization (what
    * the SQL rewrite splices); this form adds the decision detail. */
  def countWhere(spark: SparkSession, dir: String, pred: Column,
      version: Int = -1): CountWhereResult = {
    // the scan reads exactly `at`: resolving again for it would race a
    // concurrent commit into a mixed-snapshot count
    val at = resolveAt(spark, dir, version)
    val (statted, undecided, pruned) = decideWhere(at, pred, Nil)
    val scanned =
      if (undecided.isEmpty) 0L
      else at.scan(undecided).filter(pred).count()
    CountWhereResult(statted.map(_._2).sum + scanned, statted.size,
      undecided.size, pruned)
  }

  /** `min`/`max`/`count(col)`/`count(*)` over the `pred`-matching
    * rows — the stats-decided filtered aggregate, as a LAZY one-row
    * frame (no job runs until it executes).
    *
    * The key fact: an ALL-MATCH file's per-column min/max are attained
    * by rows that all satisfy `pred`, so they participate in the
    * filtered min/max exactly; its `rows − nulls` is the file's exact
    * `count(col)` contribution. Files that break any proof demote to
    * the scan set rather than refuse the query: a deletion-vectored
    * all-match file (bounds no longer attained by LIVE rows), a file
    * missing a stats line, plus all the undecided boundary files —
    * one distributed scan covers them and a final one-row combine
    * merges both sides. Returns None when a requested column is
    * unknown, not stat-eligible (strings — truncated bounds), or the
    * table pre-dates schema pinning; the caller falls back to its
    * full scan. Result columns: `n_rows`, then `n_/min_/max_<col>`
    * per requested column — [[aggregateFromManifest]]'s naming. */
  def aggregateWhereFrame(spark: SparkSession, dir: String, pred: Column,
      cols: Seq[String], version: Int = -1): Option[DataFrame] = {
    atOpt(spark, dir, version).flatMap { at =>
      at.pinned.flatMap { schema =>
        val resolved = cols.map(c =>
          schema.fields.find(_.name.equalsIgnoreCase(c))
            .filter(f => statEligible(f.dataType)))
        if (resolved.exists(_.isEmpty)) None
        else Some(buildWhereAggregate(at, pred, resolved.flatten))
      }
    }
  }

  /** The stats decision of a filtered aggregate over `at`:
    * `(statted, undecided, #pruned)`. `statted` are the ALL-MATCH files
    * whose contribution the manifest decides, each with its live row
    * count (manifest rows − deletion-vector positions); `undecided`
    * must be scanned. Fail-open demotions into the scan set: no stats
    * line, a requested column's stats missing, or (when column bounds
    * are requested) a deletion vector. */
  private def decideWhere(at: At, pred: Column, fields: Seq[StructField])
      : (Seq[(String, Long)], Seq[String], Int) = {
    val (mayMatch, pruned, survivors) = pruneBoth(at, pred)
    val stats = at.chain.stats
    val (undecided0, allMatch) =
      splitDropWholeWith(at, pred, mayMatch, survivors)
    val dv = at.chain.dv
    def dvCount(f: String): Long =
      dv.get(f).filter(_._2 > 0).map(_._2).getOrElse(0L)
    def decidable(f: String): Boolean = {
      val per = stats.getOrElse(f, Map.empty[String, ColStats])
      per.nonEmpty && (fields.isEmpty || dvCount(f) == 0) &&
        fields.forall(fd => per.contains(physOf(fd)))
    }
    val (statted, demoted) = allMatch.partition(decidable)
    (statted.map(f => f -> (stats(f).head._2.rows - dvCount(f))),
      undecided0 ++ demoted, pruned.size)
  }

  private def buildWhereAggregate(at: At, pred: Column,
      fields: Seq[StructField]): DataFrame = {
    import at.spark
    val (statted, undecided, _) = decideWhere(at, pred, fields)
    val stats = at.chain.stats
    val metaSide: Option[DataFrame] =
      if (statted.isEmpty) None
      else {
        // live rows per file: a DV'd file reaches here only when
        // fields is empty (count-only), where live rows suffice
        val raws = statted.map { case (f, live) =>
          val per = stats(f)
          Row.fromSeq(live +:
            fields.flatMap { fd =>
              val s = per(physOf(fd))
              Seq(s.min.orNull, s.max.orNull, s.nulls)
            })
        }
        Some(statsFoldFrame(spark, raws, fields))
      }
    val scanSide: Option[DataFrame] =
      if (undecided.isEmpty) None
      else {
        val base = at.scan(undecided).filter(pred)
        val aggs = count(lit(1)).as("n_rows") +:
          fields.flatMap(fd => Seq(
            count(col(fd.name)).as(s"n_${fd.name}"),
            min(col(fd.name)).as(s"min_${fd.name}"),
            max(col(fd.name)).as(s"max_${fd.name}")))
        Some(base.agg(aggs.head, aggs.tail: _*))
      }
    (metaSide, scanSide) match {
      case (Some(a), Some(b)) =>
        val combine = sum(col("n_rows")).as("n_rows") +:
          fields.flatMap(fd => Seq(
            sum(col(s"n_${fd.name}")).as(s"n_${fd.name}"),
            min(col(s"min_${fd.name}")).as(s"min_${fd.name}"),
            max(col(s"max_${fd.name}")).as(s"max_${fd.name}")))
        a.unionByName(b).agg(combine.head, combine.tail: _*)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => // every file pruned: the empty aggregate
        spark.range(1).select(lit(0L).as("n_rows") +:
          fields.flatMap(fd => Seq(
            lit(0L).as(s"n_${fd.name}"),
            lit(null).cast(fd.dataType).as(s"min_${fd.name}"),
            lit(null).cast(fd.dataType).as(s"max_${fd.name}"))): _*)
    }
  }

  // ---- pinned schema + additive evolution ---------------------------

  private val SchemaPrefix = "#schema "

  private def schemaHeader(s: StructType): String = SchemaPrefix + s.json

  // ---- column mapping (RENAME / DROP COLUMN) ------------------------
  //
  // A column has a LOGICAL name (what queries see — the pinned
  // schema's field name) and a PHYSICAL name (what the parquet files
  // and their stats lines carry — `graft.physical` field metadata;
  // absent means they coincide, the common case and the pre-mapping
  // format). RENAME changes only the logical name — zero files move on
  // a 100 TB table, old and new era files read identically because
  // every file of the lineage wrote the same physical. DROP removes
  // the field from the pinned schema — files keep the bytes (older
  // versions still read them), and the physical name goes into the
  // `#dropped` header pinned by every subsequent commit so a later
  // append can NEVER resurrect the stale bytes by reintroducing the
  // name (re-use is refused; a full rewrite lineage restart —
  // overwrite — clears the tombstones).

  private val PhysicalKey = "graft.physical"
  private val DroppedPrefix = "#dropped\t"

  /** The parquet-file column name behind a pinned-schema field. */
  private def physOf(f: StructField): String =
    if (f.metadata.contains(PhysicalKey)) f.metadata.getString(PhysicalKey)
    else f.name

  private def withPhysical(f: StructField, phys: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(PhysicalKey, phys).build())

  private def stripPhysical(f: StructField): StructField =
    if (!f.metadata.contains(PhysicalKey)) f
    else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .remove(PhysicalKey).build())

  // ---- per-file Bloom sidecar index ---------------------------------
  //
  // Min/max range stats cannot prune an EQUALITY probe when a
  // high-cardinality key is scattered across every file's full range —
  // the unclustered CDC-merge shape, where a single-key upsert would
  // read the whole table. A bloom-indexed column writes one small
  // sidecar file per data file at stage time (immutable, next to the
  // data, referenced by a `#bloom` manifest line that chains exactly
  // like `#stats`); pruning then tests `=`/`IN` atoms against the
  // sidecars IN EXECUTORS (the driver never reads index bytes — at a
  // million files the probe is a parallel map over file names, not a
  // driver loop). Bloom negatives are exact, so skipping is sound;
  // false positives and missing/unreadable sidecars only keep extra
  // files (fail-open, same discipline as stats). The config names
  // PHYSICAL columns, so probing survives RENAME; it is pinned per
  // commit (like `#dropped`) and applies to files staged AFTER it —
  // older files simply keep failing open until a rewrite
  // ([[compact]]/[[optimize]]) rebuilds them with sidecars.

  final case class BloomConfig(cols: Seq[String], expectedItems: Long,
    fpp: Double)

  private val BloomColsPrefix = "#bloomcols\t"
  private val BloomLinePrefix = "#bloom\t"

  private def bloomHeader(cfg: Option[BloomConfig]): Seq[String] =
    cfg.toSeq.map(c => BloomColsPrefix + c.expectedItems + "\t" + c.fpp +
      "\t" + c.cols.map(enc).mkString(","))

  private def bloomConfigOfLines(lines: Seq[String]): Option[BloomConfig] =
    lines.collectFirst {
      case l if l.startsWith(BloomColsPrefix) =>
        val f = l.substring(BloomColsPrefix.length).split('\t')
        BloomConfig(f(2).split(',').filter(_.nonEmpty).map(dec).toSeq,
          f(0).toLong, f(1).toDouble)
    }.filter(_.cols.nonEmpty)

  private def isBloomType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Enable (or, with an empty `cols`, disable) the bloom index: a
    * metadata-only commit pinning the config. Columns must be integral
    * or string (the two types with a stable insert/probe encoding).
    * Applies to files staged after this commit; run
    * [[compact]]/[[optimize]] to index existing files. */
  def setBloomColumns(spark: SparkSession, dir: String, cols: Seq[String],
      expectedItems: Long = 100000, fpp: Double = 0.03): Int = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"invalid bloom sizing: items=$expectedItems fpp=$fpp")
    alterMeta(spark, dir, "bloom-index") { at =>
      val phys = cols.map { c =>
        val f = fieldOf(at, c)
        require(isBloomType(f.dataType),
          s"bloom index on '$c' (${f.dataType.sql}) unsupported — " +
            "integral and string columns only")
        physOf(f)
      }
      at.meta.copy(bloom =
        if (phys.isEmpty) None else Some(BloomConfig(phys, expectedItems, fpp)))
    }
  }

  private def serializeBloom(
      bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  private def mergeBloomBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val x = org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(a))
    x.mergeInPlace(org.apache.spark.util.sketch.BloomFilter
      .readFrom(new java.io.ByteArrayInputStream(b)))
    serializeBloom(x)
  }

  /** Build one bloom sidecar per (staged file, configured column) and
    * return their `#bloom` manifest lines. One job per column: the
    * per-partition partials are keyed by file basename and merged, so
    * the build is a map-reduce over the staged data, not a driver
    * loop. */
  private def buildBlooms(spark: SparkSession, fs: FileSystem, root: HPath,
      rel: String, files: Seq[String], cfg: BloomConfig): Seq[String] = {
    import org.apache.spark.util.sketch.BloomFilter
    val stagedDir = new HPath(root, rel).toString
    val parq = spark.read.parquet(stagedDir)
    val present = cfg.cols.filter(c =>
      parq.schema.fieldNames.contains(c) && isBloomType(parq.schema(c).dataType))
    val byBase = files.map(f => f.substring(f.lastIndexOf('/') + 1) -> f).toMap
    present.flatMap { c =>
      val isStr = parq.schema(c).dataType == StringType
      val items = cfg.expectedItems
      val fpp = cfg.fpp
      val pairs = parq
        .select(input_file_name().as("__f"), col(c).as("__v"))
        .where(col("__v").isNotNull)
        .rdd.mapPartitions { it =>
          val m = scala.collection.mutable.Map[String, BloomFilter]()
          it.foreach { r =>
            val path = r.getString(0)
            val base = path.substring(path.lastIndexOf('/') + 1)
            val bf = m.getOrElseUpdate(base, BloomFilter.create(items, fpp))
            if (isStr) bf.putString(r.getString(1))
            else bf.putLong(r.get(1) match {
              case l: java.lang.Long => l
              case i: java.lang.Integer => i.toLong
              case s: java.lang.Short => s.toLong
              case b: java.lang.Byte => b.toLong
              case other => other.toString.toLong
            })
          }
          m.iterator.map { case (b, bf) => b -> serializeBloom(bf) }
        }
        .reduceByKey(mergeBloomBytes _)
        .collect()
      pairs.toSeq.flatMap { case (base, bytes) =>
        byBase.get(base).map { fileRel =>
          // the underscore prefix keeps sidecars out of parquet input
          // listings (Hadoop hides _ and . files), so directory reads
          // of the commit dir stay clean
          val sideRel = s"$rel/_bloom.$base.${enc(c)}"
          val out = fs.create(new HPath(root, sideRel), false)
          try out.write(bytes) finally out.close()
          s"#bloom\t$fileRel\t${enc(c)}\t$sideRel"
        }
      }
    }
  }

  /** Executor-side sidecar probe: for each candidate file, which probe
    * atoms its blooms DISPROVE. Driver footprint stays bounded on
    * million-file tables: only files that HAVE a sidecar for a probed
    * column are shipped (others are fail-open by construction), each
    * task receives just its slice's (file, refs) records rather than a
    * full-table broadcast map, and only non-empty kill sets return
    * (the common point-lookup collects a handful of entries, not one
    * per file). Index bytes are read where the tasks run, under the
    * session's Hadoop configuration. */
  private def probeBlooms(spark: SparkSession, rootStr: String,
      files: Seq[String], refs: Map[String, Map[String, String]],
      probes: Seq[(Conj, String, Seq[Any])]): Map[String, Set[Int]] = {
    import org.apache.spark.util.sketch.BloomFilter
    val sc = spark.sparkContext
    val probedCols = probes.map(_._2).toSet
    // (file, per-probed-col sidecar refs) — records travel with their
    // partition slice; files with no relevant sidecar never ship
    val candidates: Seq[(String, Map[String, String])] = files.flatMap { f =>
      refs.get(f).map(_.view.filterKeys(probedCols).toMap)
        .filter(_.nonEmpty).map(f -> _)
    }
    if (candidates.isEmpty) return Map.empty
    // resolve foreign (clone-source) sidecar refs through _moved
    // markers ONCE on the driver (one batched call — one probe per
    // distinct foreign root) — tasks then open final paths
    val fs0 = new HPath(rootStr).getFileSystem(sc.hadoopConfiguration)
    val flat = candidates.flatMap { case (f, m) =>
      m.toSeq.map { case (c, ref) => (f, c, ref) }
    }
    val resolvedRefs = resolveForeign(fs0, flat.map(_._3))
    val resolvedCandidates = flat.zip(resolvedRefs)
      .groupBy(_._1._1).toSeq.map { case (f, xs) =>
        f -> xs.map { case ((_, c, _), r) => c -> r }.toMap
      }
    val probesB = sc.broadcast(probes.zipWithIndex.map {
      case ((_, phys, vs), i) => (i, phys, vs)
    })
    val hconf = sc.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        sc.hadoopConfiguration))
    sc.parallelize(resolvedCandidates,
        math.max(1, math.min(resolvedCandidates.size, 64)))
      .map { case (f, colRefs) =>
        val cache =
          scala.collection.mutable.Map[String, Option[BloomFilter]]()
        def bloomAt(rel: String): Option[BloomFilter] =
          cache.getOrElseUpdate(rel, {
            try {
              val p = new HPath(rootStr, rel)
              val in = p.getFileSystem(hconf.value.value).open(p)
              try Some(BloomFilter.readFrom(in)) finally in.close()
            } catch { case NonFatal(_) => None } // unreadable: fail-open
          })
        val kills = probesB.value.flatMap { case (i, phys, vs) =>
          colRefs.get(phys).flatMap(bloomAt) match {
            case Some(bf) =>
              val absent = vs.forall {
                case l: java.lang.Long => !bf.mightContainLong(l)
                case s: String => !bf.mightContainString(s)
                case _ => false
              }
              if (absent) Some(i) else None
            case None => None // no sidecar for this file/col: fail-open
          }
        }.toSet
        f -> kills
      }
      .filter(_._2.nonEmpty) // only killers come home to the driver
      .collect().toMap
  }

  /** A literal in the bloom insert/probe encoding (integrals widen to
    * long, strings probe verbatim); None = not bloom-probeable. */
  private def bloomValue(l: Literal): Option[Any] = l.value match {
    case null => None
    case i: java.lang.Integer => Some(java.lang.Long.valueOf(i.toLong))
    case x: java.lang.Long => Some(x)
    case s: java.lang.Short => Some(java.lang.Long.valueOf(s.toLong))
    case b: java.lang.Byte => Some(java.lang.Long.valueOf(b.toLong))
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
    case s: String => Some(s)
    case _ => None
  }

  // ---- CHECK constraints --------------------------------------------
  //
  // Row-local invariants pinned per commit (like `#dropped` and
  // `#bloomcols`): every content-ADDING commit (append / streaming
  // append / merge source) validates its incoming rows and fails
  // loudly instead of committing bad data — the write-time data
  // contract a 100 TB table needs, because a bad row found at READ
  // time costs a table-scale repair. SQL CHECK semantics: a row
  // violates only when the expression is FALSE; NULL passes. Row
  // subsets and rewrites (delete / compact / optimize / restore) can
  // not introduce violations and only CARRY the pinned set; OVERWRITE
  // restarts the lineage and clears it (same rule as tombstones).

  private val ConstraintPrefix = "#constraint\t"

  /** `#op\t<name>`: which operation produced a commit — the DESCRIBE
    * HISTORY record. Absent on pre-tag manifests (history shows
    * `unknown`). */
  private val OpPrefix = "#op\t"

  private def opHeader(op: String): Seq[String] = Seq(OpPrefix + op)

  private val DmlKeysPrefix = "#dmlkeys\t"

  /** The key columns a merge-family commit addressed rows by —
    * recorded so [[changeFeed]] can pair the commit's delete/insert
    * rows into `update_preimage`/`update_postimage` (a CDC consumer
    * cannot otherwise distinguish an update from an unrelated
    * delete+insert). Logical column names, per-commit (not carried). */
  private def dmlKeysHeader(keys: Seq[String]): Seq[String] =
    Seq(DmlKeysPrefix + keys.map(enc).mkString(","))

  private def dmlKeysOf(lines: Seq[String]): Seq[String] =
    lines.collectFirst {
      case l if l.startsWith(DmlKeysPrefix) =>
        l.substring(DmlKeysPrefix.length).split(',')
          .filter(_.nonEmpty).map(dec).toSeq
    }.getOrElse(Nil)

  private def opOf(lines: Seq[String]): Option[String] =
    lines.collectFirst {
      case l if l.startsWith(OpPrefix) => l.substring(OpPrefix.length)
    }

  private def constraintHeader(cs: Map[String, String]): Seq[String] =
    cs.toSeq.sortBy(_._1).map { case (n, e) =>
      ConstraintPrefix + enc(n) + "\t" + enc(e)
    }

  private def constraintsOfLines(lines: Seq[String]): Map[String, String] =
    lines.filter(_.startsWith(ConstraintPrefix))
      .flatMap { l =>
        l.split('\t') match {
          case Array(_, n, e) => Some(dec(n) -> dec(e))
          case _ => None
        }
      }.toMap

  /** The CHECK constraints pinned at `version` (default: latest);
    * empty for a table with none (or no table at all). */
  def constraints(spark: SparkSession, dir: String,
      version: Int = -1): Map[String, String] = {
    atOpt(spark, dir, version).map(_.meta.constraints).getOrElse(Map.empty)
  }

  // ---- table properties ---------------------------------------------
  //
  // Free-form key/value metadata pinned per commit and carried like
  // constraints (`#prop\tkey\tvalue` lines, re-written by every
  // commit). First consumer: `cluster.columns` — the table's declared
  // clustering keys, set by `CREATE TABLE ... PARTITIONED BY` through
  // the SQL catalog and honored by [[maintain]], which OPTIMIZEs by
  // those keys instead of blind compaction. (Deliberately NOT hive
  // partitioning: physical partition directories on high-cardinality
  // keys are the 100 TB anti-pattern; a clustering hint + stats
  // pruning gives the same reads without the small-file explosion.)

  private val PropPrefix = "#prop\t"

  private def propsHeader(ps: Map[String, String]): Seq[String] =
    ps.toSeq.sortBy(_._1).map { case (k, v) =>
      PropPrefix + enc(k) + "\t" + enc(v)
    }

  private def propsOfLines(lines: Seq[String]): Map[String, String] =
    lines.filter(_.startsWith(PropPrefix))
      .flatMap { l =>
        l.split('\t') match {
          case Array(_, k, value) => Some(dec(k) -> dec(value))
          case _ => None
        }
      }.toMap

  /** The metadata a version pins and every commit on it carries:
    * schema (absent on manifests written before schema pinning),
    * dropped-column tombstones, bloom config, CHECK constraints and
    * table properties. [[metaOf]] parses it from ONE manifest's lines;
    * [[header]] renders all but the schema back (the schema line leads
    * a manifest, [[casChange]]/[[casManifest]] callers place it). A new
    * carried metadata kind is added HERE, not at every call site. */
  private final case class Meta(schema: Option[StructType] = None,
      dropped: Set[String] = Set.empty, bloom: Option[BloomConfig] = None,
      constraints: Map[String, String] = Map.empty,
      props: Map[String, String] = Map.empty) {
    def header: Seq[String] = droppedHeader(dropped) ++ bloomHeader(bloom) ++
      constraintHeader(constraints) ++ propsHeader(props)
    def withProps(delta: Map[String, String]): Meta =
      copy(props = props ++ delta)
  }

  private def metaOf(lines: Seq[String]): Meta =
    Meta(schemaOfLines(lines), droppedOfLines(lines),
      bloomConfigOfLines(lines), constraintsOfLines(lines),
      propsOfLines(lines))

  /** The table properties pinned at `version` (default: latest). */
  def tableProperties(spark: SparkSession, dir: String,
      version: Int = -1): Map[String, String] = {
    atOpt(spark, dir, version).map(_.meta.props).getOrElse(Map.empty)
  }

  /** `stats.columns` / `cluster.columns` must name existing,
    * stat-eligible (atomic-typed) top-level columns — a declared key
    * that can carry no min/max stats would silently defeat every
    * stats consumer (prune, countWhere, stats-decided aggregates,
    * drop-whole DML splits), so the declaration refuses loudly. */
  private def validateDeclaredStatCols(key: String, value: String,
      schema: StructType, dir: String): Unit =
    value.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      val f = schema.fields.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"$key on $dir: no column '$n' in " +
            schema.fieldNames.toSeq.mkString("[", ", ", "]")))
      val ok = f.dataType match {
        case _: NumericType | StringType | DateType | TimestampType |
             TimestampNTZType | BooleanType => true
        case _ => false
      }
      require(ok,
        s"$key on $dir: column '$n' (${f.dataType.sql}) is not " +
          "stat-eligible — only atomic numeric/string/date/timestamp/" +
          "boolean columns carry min/max stats")
    }

  /** SET a table property — a metadata-only commit. */
  def setProperty(spark: SparkSession, dir: String, key: String,
      value: String): Int = {
    require(key.nonEmpty && !key.contains("\t") && !value.contains("\t"),
      s"bad property '$key'")
    alterMeta(spark, dir, "set-property") { at =>
      if (key == "stats.columns" || key == "cluster.columns")
        validateDeclaredStatCols(key, value, at.schema, dir)
      at.meta.withProps(Map(key -> value))
    }
  }

  /** UNSET a table property — a metadata-only commit (no-op version
    * still commits if the key was absent? No: absent key refuses, the
    * SQL layer's IF EXISTS handles tolerance). */
  def unsetProperty(spark: SparkSession, dir: String, key: String): Int =
    alterMeta(spark, dir, "unset-property") { at =>
      val ps = at.meta.props
      require(ps.contains(key),
        s"no property '$key' on $dir: ${ps.keys.toSeq.sorted}")
      at.meta.copy(props = ps - key)
    }

  /** The stats declarations of a properties map:
    * (`stats.columns`, `cluster.columns`), comma-split. */
  private def declaredOf(
      ps: Map[String, String]): (Seq[String], Seq[String]) = {
    def csv(k: String): Seq[String] = ps.get(k)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    (csv("stats.columns"), csv("cluster.columns"))
  }

  /** The declared clustering keys (`cluster.columns` property). */
  def clusterColumns(spark: SparkSession, dir: String): Seq[String] =
    tableProperties(spark, dir).get("cluster.columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** ADD a CHECK constraint: validates the EXISTING data first (a
    * constraint the current content violates is refused — it could
    * never be trusted), then pins it with a metadata-only commit.
    * `sqlExpr` is a boolean SQL expression over the table's columns
    * (e.g. `"price >= 0"`, `"ts IS NOT NULL"`). */
  def setConstraint(spark: SparkSession, dir: String, name: String,
      sqlExpr: String): Int = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"constraint name must be [A-Za-z0-9._-]+, got '$name'")
    alterMeta(spark, dir, "add-constraint") { at =>
      val bad = at.table.filter(!expr(sqlExpr)).take(1)
      require(bad.isEmpty,
        s"cannot add CHECK constraint '$name' ($sqlExpr) to $dir: existing " +
          s"row violates it: ${bad.headOption.getOrElse("")}")
      at.meta.copy(constraints = at.meta.constraints + (name -> sqlExpr))
    }
  }

  /** DROP a CHECK constraint — a metadata-only commit. */
  def dropConstraint(spark: SparkSession, dir: String, name: String): Int =
    alterMeta(spark, dir, "drop-constraint") { at =>
      val cs = at.meta.constraints
      require(cs.contains(name),
        s"no CHECK constraint '$name' on $dir: ${cs.keys.toSeq.sorted}")
      at.meta.copy(constraints = cs - name)
    }

  /** Refuse unless every CHECK constraint in `cs` analyzes over
    * `schema` — the one probe behind CREATE/REPLACE (a constraint naming
    * a missing column refuses before the first write) and RENAME/DROP
    * COLUMN (a constraint still naming the old column would fail every
    * later write). */
  private def requireConstraintsResolve(spark: SparkSession,
      schema: StructType, cs: Map[String, String], what: String): Unit = {
    val probe = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    cs.foreach { case (n, e) =>
      try probe.filter(expr(e)).queryExecution.analyzed
      catch { case NonFatal(t) => throw new IllegalArgumentException(
        s"$what: CHECK constraint '$n' ($e) does not resolve against the " +
          s"resulting schema (drop or fix the constraint): ${t.getMessage}") }
    }
  }

  /** What a row in a file LACKING column `f` reads for it: the
    * pinned `EXISTS_DEFAULT` literal when the column declares one,
    * NULL otherwise — the scan-side fill contract, shared by every
    * writer-side simulation of an omitted column (CHECK enforcement,
    * the mergeSchema narrower-source fill). */
  private def missingColumnReads(f: StructField): Column =
    (if (f.metadata.contains("EXISTS_DEFAULT"))
      expr(f.metadata.getString("EXISTS_DEFAULT"))
    else lit(null)).cast(f.dataType)

  /** The schema's GENERATED ALWAYS AS columns: (field, generation
    * expression SQL) — carried in the pinned schema under Spark's
    * `GENERATION_EXPRESSION` field-metadata key, the same
    * CatalogV2Util round-trip that carries the column-DEFAULT keys. */
  private def generatedOf(schema: StructType): Seq[(StructField, String)] =
    schema.fields.toSeq.flatMap(f =>
      org.apache.spark.sql.graft.GraftSparkBridge.generationExpression(f)
        .map(f -> _))

  /** Refuse a schema evolution that leaves any generation expression
    * unresolvable against the evolved shape (probed like the CHECK
    * constraint guards: an empty frame of the evolved schema must
    * analyze the expression). */
  private def requireGeneratedResolve(spark: SparkSession,
      evolved: StructType, what: String): Unit =
    generatedOf(evolved).foreach { case (gf, ge) =>
      val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], evolved)
      val resolves =
        try { probe.select(expr(ge)).queryExecution.analyzed; true }
        catch { case NonFatal(_) => false }
      require(resolves,
        s"$what: generated column '${gf.name}' (GENERATED ALWAYS AS " +
          s"($ge)) references it — drop the generated column first")
    }

  /** Writer-side materialization of generated columns — every data
    * write stores the COMPUTED value, so readers never evaluate the
    * expression (files are self-contained; time travel, clones and
    * external parquet readers all see the attained values, and the
    * column's per-file stats prune filters on it like any stored
    * key). A NULL slot — whether the writer omitted the column,
    * Spark's INSERT resolution filled it, or the row carried an
    * explicit NULL — means "compute"; a non-NULL slot is kept AS
    * WRITTEN and must agree with the expression
    * ([[enforceConstraints]] refuses the commit otherwise — the
    * GENERATED ALWAYS contract, Delta-style). A frame lacking the
    * column entirely gains it, computed. */
  private def materializeGenerated(schema: StructType,
      df: DataFrame): DataFrame = {
    val gens = generatedOf(schema)
    if (gens.isEmpty) df
    else {
      val have = df.columns.map(_.toLowerCase).toSet
      gens.foldLeft(df) { case (d, (f, e)) =>
        val computed = expr(e).cast(f.dataType)
        if (have.contains(f.name.toLowerCase))
          d.withColumn(f.name,
            when(col(f.name).isNull, computed).otherwise(col(f.name)))
        else d.withColumn(f.name, computed)
      }
    }
  }

  /** Recompute generated columns over an UPDATE's rewritten rows:
    * assignments may change the base columns a generation expression
    * reads, so the expression re-evaluates against the
    * POST-assignment row. Recomputing UNCONDITIONALLY (hit rows and
    * carried rows alike) is sound and simpler than threading the hit
    * predicate through the assignment projection: every stored value
    * already equals its (deterministic) expression — the writers
    * materialize and [[enforceConstraints]] refuses divergence — so
    * on rows the UPDATE missed the recompute is the identity. */
  private def regenerate(schema: StructType, df: DataFrame): DataFrame =
    generatedOf(schema).foldLeft(df) { case (d, (f, e)) =>
      d.withColumn(f.name, expr(e).cast(f.dataType))
    }

  /** An UPDATE's validated assignments, keyed by the table's column
    * casing: at least one, each naming an existing top-level column
    * (UPDATE never evolves schema), none targeting a generated column
    * (it derives from its base columns — [[regenerate]] recomputes it
    * after the assignments land) or an identity column
    * (system-assigned; an UPDATE could silently forge a duplicate). */
  private def assignedOf(dir: String, cols: StructType,
      assignments: Seq[(String, Column)]): Map[String, Column] = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    val assigned = assignments.map { case (c, v) =>
      cols.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"UPDATE target '$c' is not a " +
          s"column of $dir: ${cols.fieldNames.toSeq}")).name -> v
    }.toMap
    generatedOf(cols).foreach { case (f, e) =>
      require(!assigned.contains(f.name),
        s"UPDATE target '${f.name}' of $dir is GENERATED ALWAYS AS " +
          s"($e) — it derives from its base columns; assign those " +
          "instead and the column recomputes")
    }
    identityOf(cols).foreach { case (f, _) =>
      require(!assigned.contains(f.name),
        s"UPDATE target '${f.name}' of $dir is an IDENTITY column — " +
          "its values are system-assigned and immutable")
    }
    assigned
  }

  /** The UPDATE row images of `in`: where `hit` holds, the assignments
    * apply (each cast to its column's declared type); elsewhere values
    * pass through byte-identical. Generated columns then recompute. */
  private def assign(cols: StructType, assigned: Map[String, Column],
      hit: Column)(in: DataFrame): DataFrame =
    regenerate(cols, in.select(cols.fields.toSeq.map(f =>
      assigned.get(f.name).fold(col(f.name))(v =>
        when(hit, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name))): _*))

  // ---- IDENTITY columns ----------------------------------------------

  /** The schema's IDENTITY columns: (field, (start, step,
    * allowExplicitInsert)) — carried in the pinned schema under
    * Spark's `identity.*` field-metadata keys. */
  private def identityOf(schema: StructType)
      : Seq[(StructField, (Long, Long, Boolean))] =
    schema.fields.toSeq.flatMap(f =>
      org.apache.spark.sql.graft.GraftSparkBridge.identityInfo(f)
        .map(f -> _))

  /** The table property holding an identity column's NEXT value to
    * assign (the "high-water mark"). It advances ATOMICALLY with the
    * data commit that consumed the values — [[commitIngest]] rebases
    * only onto a tip whose mark is still the one the assignment read,
    * and a drift (another writer assigned ids concurrently) aborts to
    * the caller's retry, which re-reads and re-assigns. Values are
    * therefore unique across writers; like every identity
    * implementation, GAPS happen (a failed commit abandons its reserved
    * range). */
  private def identityMarkKey(f: StructField): String =
    s"identity.mark.${f.name}"

  /** What [[assignIdentity]] decided: the frame to stage, the mark
    * entries the commit must still observe at its base
    * (`expect`: key → the value read here, None = absent), the
    * advanced marks to write (`delta`), and the underlying PIN to
    * unpersist after the commit (the staged frame derives from it
    * deterministically). */
  private final case class IdentityAssignment(frame: DataFrame,
    expect: Map[String, Option[String]], delta: Map[String, String],
    pin: Option[DataFrame])

  /** Assign identity values to the frame's NULL identity slots:
    * ids = mark, mark+step, ... in partition order — computed
    * SHUFFLE-FREE via one per-partition NULL count pass over the
    * pinned frame plus a broadcast offset map (the Delta shape; a
    * global row_number would sort 100 TB to number it). Explicit
    * non-NULL values refuse under GENERATED ALWAYS AS IDENTITY;
    * under BY DEFAULT they pass through and the mark advances past
    * their extremum, so future assignments stay collision-free.
    * A frame lacking the column entirely gains it, fully assigned. */
  private def assignIdentity(spark: SparkSession, meta: Meta,
      df: DataFrame): IdentityAssignment = {
    val ids = meta.schema.map(identityOf).getOrElse(Nil)
    if (ids.isEmpty) return IdentityAssignment(df, Map.empty, Map.empty,
      pin = None)
    var expect = Map.empty[String, Option[String]]
    var delta = Map.empty[String, String]
    // ONE pin serves every identity column's passes (explicit-value
    // probe, per-partition counts, the assignment itself): the frame
    // must yield the SAME rows in the SAME partitions across them.
    // Everything derived below (withColumn, mapPartitions with a
    // broadcast offset map) is DETERMINISTIC over the pin, so nothing
    // else needs pinning.
    val pin = pinKeys(df)
    var cur = pin
    ids.foreach { case (f, (start, step, allowExplicit)) =>
      val key = identityMarkKey(f)
      val markStr = meta.props.get(key)
      val mark: Long = markStr.map(_.toLong).getOrElse(start)
      expect += (key -> markStr)
      val has = cur.columns.exists(_.equalsIgnoreCase(f.name))
      val base = if (has) cur
        else cur.withColumn(f.name, lit(null).cast(f.dataType))
      val idx = base.columns.indexWhere(_.equalsIgnoreCase(f.name))
      val slot = col(base.columns(idx))
      val explicitMax: Option[Long] =
        if (has) {
          if (!allowExplicit) {
            val bad = base.filter(slot.isNotNull).take(1)
            require(bad.isEmpty,
              s"column '${f.name}' is GENERATED ALWAYS AS IDENTITY — " +
                s"explicit values cannot be written (got ${bad.headOption
                  .getOrElse("")}); omit the column or write NULL")
            None
          } else Option(base.filter(slot.isNotNull)
            .agg(if (step > 0) max(slot.cast("long"))
              else min(slot.cast("long"))).head().get(0))
            .map(_.asInstanceOf[Long])
        } else None
      // per-partition NULL counts → cumulative offsets (partition
      // order), broadcast; the single mapPartitions pass assigns
      val counts = base.filter(slot.isNull)
        .select(spark_partition_id().as("__pid"))
        .groupBy("__pid").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val nAssigned = counts.values.sum
      if (nAssigned == 0L && explicitMax.isEmpty) {
        // nothing to assign, nothing to advance — no mark entry
        expect -= key
      } else {
        // assignment starts BEYOND this batch's own explicit values,
        // or the batch would hand out ids it also carries explicitly
        // ({id=2, NULL, NULL} at mark=1 must assign 3,4 — not 1,2)
        val effMark = explicitMax match {
          case Some(m) =>
            if (step > 0) math.max(mark, m + step)
            else math.min(mark, m + step)
          case None => mark
        }
        val offsets: Map[Int, Long] = {
          var acc = 0L
          counts.toSeq.sortBy(_._1).map { case (p, n) =>
            val o = acc; acc += n; p -> o
          }.toMap
        }
        val isInt = f.dataType == IntegerType
        if (isInt && nAssigned > 0L) {
          // an INT identity must never wrap: refuse the write rather
          // than emit silently-negative ids the mark diverges from
          val last = effMark + step * (nAssigned - 1)
          require(effMark >= Int.MinValue && effMark <= Int.MaxValue &&
              last >= Int.MinValue && last <= Int.MaxValue,
            s"identity column '${f.name}': assigning $nAssigned ids " +
              s"from $effMark (step $step) overflows INT — widen the " +
              "column to BIGINT")
        }
        val assigned =
          if (nAssigned == 0L) base
          else {
            val bc = spark.sparkContext.broadcast(offsets)
            val outSchema = base.schema
            base.mapPartitions { it =>
              val pid = org.apache.spark.TaskContext.getPartitionId()
              var k = bc.value.getOrElse(pid, 0L)
              it.map { r =>
                if (!r.isNullAt(idx)) r
                else {
                  val v = effMark + step * k
                  k += 1
                  Row.fromSeq(r.toSeq.updated(idx,
                    if (isInt) v.toInt else v))
                }
              }
            }(org.apache.spark.sql.Encoders.row(outSchema))
          }
        delta += (key -> (effMark + step * nAssigned).toString)
        cur = assigned
      }
    }
    IdentityAssignment(cur, expect, delta, pin = Some(pin))
  }

  /** Mark-advance entries for identity values a merge-family /
    * replaceWhere source carries EXPLICITLY: those verbs trust the
    * source's ids (see [[refuseNullIdentity]]) — but the next
    * assignment must not re-issue them, so the commit pushes the
    * high-water mark past the source's extremum in the same CAS
    * (usually a no-op: re-loaded rows carry ids below the mark). The
    * source must be PINNED by the caller — this agg is one more of
    * its executions. */
  private def identityMarkAdvance(schema: StructType,
      props: Map[String, String], src: DataFrame): Map[String, String] =
    identityOf(schema).flatMap { case (f, (start, step, _)) =>
      src.columns.find(_.equalsIgnoreCase(f.name)).flatMap { c =>
        val slot = col(c)
        Option(src.filter(slot.isNotNull)
          .agg(if (step > 0) max(slot.cast("long"))
            else min(slot.cast("long"))).head().get(0))
          .map(_.asInstanceOf[Long])
          .flatMap { m =>
            val key = identityMarkKey(f)
            val mark = props.get(key).map(_.toLong).getOrElse(start)
            val next = if (step > 0) math.max(mark, m + step)
              else math.min(mark, m + step)
            if (props.get(key).map(_.toLong).contains(next)) None
            else Some(key -> next.toString)
          }
      }
    }.toMap

  /** Re-align identity high-water marks with the ATTAINED ids —
    * Delta's SYNC IDENTITY: after a RESTORE to an older version (the
    * restored props carry the OLD mark... or a newer one than the
    * restored rows), a clone, or out-of-band history surgery, the
    * mark and the data can disagree; the next assignment would
    * duplicate or needlessly skip ids. One column-pruned aggregate
    * per identity column finds the extremum, and ONE metadata-only
    * commit pins mark = extremum + step (never below START). Returns
    * the new mark per column. */
  def syncIdentity(spark: SparkSession, dir: String,
      column: Option[String] = None): Map[String, Long] =
    dmlOn(spark, dir, -1, "alter") { at =>
      val schema = at.meta.schema.getOrElse(
        throw new IllegalArgumentException(
          s"$dir has no pinned schema — not a DDL table"))
      val ids = identityOf(schema).filter { case (f, _) =>
        column.forall(_.equalsIgnoreCase(f.name)) }
      require(ids.nonEmpty, column match {
        case Some(c) => s"no IDENTITY column '$c' in $dir"
        case None => s"$dir has no IDENTITY columns"
      })
      val updates = ids.map { case (f, (start, step, _)) =>
        val slot = col(f.name)
        val ext = Option(at.table.filter(slot.isNotNull)
          .agg(if (step > 0) max(slot.cast("long"))
            else min(slot.cast("long"))).head().get(0))
          .map(_.asInstanceOf[Long])
        val next = ext.map(_ + step) match {
          case Some(m) => if (step > 0) math.max(m, start)
            else math.min(m, start)
          case None => start
        }
        identityMarkKey(f) -> next
      }
      commitOn(at, "sync-identity",
        at.meta.withProps(updates.map { case (k, m) => k -> m.toString }.toMap))
      updates.toMap
    }

  /** Refuse NULL identity slots on the merge-family sources: a merge
    * row replaces or inserts by key, and assigning fresh ids inside
    * the classification join would entangle the mark advance with the
    * OCC retry loops — insert new rows through the INSERT/append
    * verbs (which assign), or carry explicit values (BY DEFAULT
    * tables; matched SQL MERGE rows carry the target's existing ids
    * naturally — [[identityMarkAdvance]] keeps the mark ahead of
    * whatever the source introduced). */
  private def refuseNullIdentity(schema: StructType, src: DataFrame,
      dir: String, what: String): Unit =
    identityOf(schema).foreach { case (f, _) =>
      if (src.columns.exists(_.equalsIgnoreCase(f.name))) {
        val bad = src.filter(col(f.name).isNull).take(1)
        require(bad.isEmpty,
          s"$what into $dir: source row carries a NULL for IDENTITY " +
            s"column '${f.name}' — $what does not assign identity " +
            "values; INSERT/append the new rows (which assigns), or " +
            "provide explicit values on a BY DEFAULT identity column")
      } else throw new IllegalArgumentException(
        s"$what into $dir: source lacks IDENTITY column '${f.name}' — " +
          "provide it explicitly (matched rows carry the target's ids)")
    }

  /** Validate `df` against the constraints pinned at `at` (an ingest
    * commit rebases only onto a tip whose constraints it validated —
    * see [[commitIngest]]). Table columns the frame lacks enforce as
    * what their files' rows will actually READ — the column DEFAULT
    * when one is pinned, NULL otherwise ([[missingColumnReads]]): a
    * NULL stand-in for a defaulted column would let a violating row
    * slip the CHECK (NULL predicate ≠ false) and commit. */
  private def enforceConstraints(at: At, df: DataFrame): Unit = {
    import at.dir
    val cs = at.meta.constraints
    val gens = at.meta.schema.map(generatedOf).getOrElse(Nil)
    if (cs.nonEmpty || gens.nonEmpty) {
      val have = df.columns.map(_.toLowerCase).toSet
      val missing = at.meta.schema.map(_.fields.toSeq).getOrElse(Nil)
        .filterNot(f => have.contains(f.name.toLowerCase))
      val full = missing.foldLeft(df)((d, f) =>
        d.withColumn(f.name, missingColumnReads(f)))
      cs.foreach { case (n, e) =>
        val bad = full.filter(!expr(e)).take(1)
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"CHECK constraint '$n' ($e) on $dir violated by incoming " +
            s"row: ${bad.head} — nothing was committed")
      }
      // GENERATED ALWAYS AS: a stored slot must agree with its
      // expression — the writers materialize NULL slots first
      // ([[materializeGenerated]]), so what reaches here failing this
      // check is a caller-provided CONFLICTING value
      gens.foreach { case (f, e) =>
        val bad = full.filter(
          !(col(f.name) <=> expr(e).cast(f.dataType))).take(1)
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"generated column '${f.name}' (GENERATED ALWAYS AS ($e)) of " +
            s"$dir disagrees with its expression on incoming row: " +
            s"${bad.head} — omit the column (or write NULL) to have " +
            "it computed; nothing was committed")
      }
    }
  }

  /** What a [[mergeLight]] did: files that gained a deletion vector
    * (their matched rows retired), files dropped whole, the appended
    * source files, and the count of replaced table rows. */
  final case class LightMergeResult(version: Int, dvFiles: Int,
    droppedFiles: Int, insertedFiles: Int, rowsReplaced: Long)

  /** MERGE by deletion vector — same semantics as [[merge]] (matched
    * keys replaced by the source row, unmatched source rows inserted,
    * everything else untouched), with the REPLACE half done by
    * recording the matched rows' positions instead of rewriting their
    * files: commit cost is O(source rows + matched positions), zero
    * table files rewritten. This is the modern lakehouse MERGE shape —
    * a CDC trickle of single-key upserts against a 100 TB table
    * commits kilobytes per epoch where copy-on-write rewrote a file
    * per touched key. The source must be key-unique and carry exactly
    * the table's columns; CHECK constraints validate the source;
    * refuses beyond `maxPositions` matched rows (the bulk path is the
    * copy-on-write [[merge]]). Same honesty guards as
    * [[deleteWhereLight]] — the vector commit trips the changesSince /
    * streaming-source drift detection and metadata-aggregate refusal.
    * Unpinned races retry; an `expectedVersion` token fails fast. */
  def mergeLight(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], expectedVersion: Int = -1,
      maxPositions: Int = 1000000): LightMergeResult =
    dml(spark, dir, expectedVersion, "mergeLight") {
      case None => // empty table: the plain first append
        val r = merge(spark, dir, source, keys)
        LightMergeResult(r.version, 0, 0, r.rewrittenFiles, 0L)
      case Some(at) => classifyMerge(at, source, keys, "mergeLight",
          evolvable = false) { m =>
        // matched LIVE rows, named by (qualified file path, row index)
        val d = applyDv(at, "mergeLight", maxPositions, m.mayMatch,
          "merge-light", dmlKeysHeader(keys), m.idDelta)(
          _.join(m.mutKeys.na.drop(m.keys).distinct(), m.keys, "left_semi"))(
          _ => Some(m.src))
        LightMergeResult(d.version, d.dvFiles, d.dropped, d.staged,
          d.positions)
      }
    }

  /** Early, readable refusal of name resurrection — the same rules
    * [[evolveSchema]] enforces at commit time, checked before any file
    * is staged (a tombstone collision would otherwise surface as a
    * confusing duplicate-physical-column failure inside the write). */
  private def validateIncoming(at: At, df: DataFrame): Unit =
    at.meta.schema.foreach { ts =>
      val byLower = ts.fields.map(_.name.toLowerCase).toSet
      df.columns.filterNot(c => byLower.contains(c.toLowerCase))
        .foreach(requireFreshName(ts, at.meta.dropped, at.dir, _))
    }

  /** A column name new to `table` must collide with neither a dropped
    * column's tombstoned physical (its bytes would resurrect from
    * pre-drop files) nor a live physical behind a renamed column (its
    * bytes would cross-feed) — the rule ADD COLUMN, the ingest check
    * and [[evolveSchema]] share. */
  private def requireFreshName(table: StructType, dropped: Set[String],
      dir: String, name: String): Unit = {
    require(!dropped.exists(_.equalsIgnoreCase(name)),
      s"column name '$name' was previously dropped from $dir — " +
        "re-adding it would resurrect the dropped files' bytes; " +
        "pick another name (or overwrite to restart the lineage)")
    require(!table.fields.exists(tf =>
      physOf(tf).equalsIgnoreCase(name) && tf.name != name),
      s"column name '$name' is the physical name behind a renamed " +
        s"column of $dir; pick another name")
  }

  private def droppedHeader(dropped: Set[String]): Seq[String] =
    if (dropped.isEmpty) Nil
    else Seq(DroppedPrefix +
      dropped.toSeq.sorted.map(enc).mkString(","))

  private def droppedOfLines(lines: Seq[String]): Set[String] =
    lines.collectFirst {
      case l if l.startsWith(DroppedPrefix) =>
        l.substring(DroppedPrefix.length).split(',')
          .filter(_.nonEmpty).map(dec).toSet
    }.getOrElse(Set.empty)

  /** RENAME COLUMN — a metadata-only commit: the new version pins the
    * schema with the field's logical name changed and its physical
    * name (the one every existing file wrote) recorded, and lists the
    * SAME data files as the base. Nothing is read or copied; appends
    * after the rename stage their files under the original physical
    * name, so both eras read uniformly. A NOT NULL declaration (the
    * CHECK `nn_<col>`, `<col> IS NOT NULL`) is renamed with the column
    * in the same commit. Unpinned-DML concurrency: a lost race retries
    * on the new current version. */
  def renameColumn(spark: SparkSession, dir: String, existing: String,
      newName: String): Int = {
    require(newName.nonEmpty && !newName.contains("\t"),
      s"invalid column name '$newName'")
    alterMeta(spark, dir, "rename-column") { at =>
      val f = fieldOf(at, existing)
      require(!at.schema.fields.exists(_.name.equalsIgnoreCase(newName)),
        s"column '$newName' already exists in $dir")
      val evolved = StructType(at.schema.fields.map { x =>
        if (x eq f) withPhysical(x, physOf(x)).copy(name = newName) else x
      })
      // a CHECK constraint or generation expression written against the
      // old logical name would fail on every later write (renaming the
      // GENERATED column itself is fine — the expression travels with
      // the field and cannot self-refer)
      // a NOT NULL declaration (the catalog's CHECK `nn_<col>`) follows
      // the rename; any other CHECK naming the column still refuses
      val nn = s"nn_${f.name}" -> s"${f.name} IS NOT NULL"
      val constraints = at.meta.constraints.map(c =>
        if (c == nn) s"nn_$newName" -> s"$newName IS NOT NULL" else c)
      val what = s"cannot rename column '$existing' of $dir"
      requireConstraintsResolve(spark, evolved, constraints, what)
      requireGeneratedResolve(spark, evolved, what)
      // declarations follow the rename: `stats.columns`/`cluster.columns`
      // naming the old logical name would silently go stale (a stale
      // declaration collects no stats for the key it exists to protect)
      val ps0 = Seq("stats.columns", "cluster.columns")
        .foldLeft(at.meta.props) { (acc, k) =>
          acc.get(k) match {
            case Some(csv) => acc + (k -> csv.split(",").map(_.trim)
              .filter(_.nonEmpty)
              .map(n => if (n.equalsIgnoreCase(f.name)) newName else n)
              .mkString(","))
            case None => acc
          }
        }
      // name-keyed per-column properties follow the rename too: an
      // identity high-water mark left behind would make the next INSERT
      // restart from START and collide with every id already handed
      // out; an orphaned column comment would resurface on a future
      // column that reuses the name
      val ps = Seq(identityMarkKey(f) -> s"identity.mark.$newName",
          s"column.comment.${f.name}" -> s"column.comment.$newName")
        .foldLeft(ps0) { case (acc, (oldK, newK)) =>
          acc.get(oldK) match {
            case Some(value) => acc - oldK + (newK -> value)
            case None => acc
          }
        }
      at.meta.copy(schema = Some(evolved), constraints = constraints,
        props = ps)
    }
  }

  /** DROP COLUMN — a metadata-only commit: the field leaves the pinned
    * schema (current and later versions stop seeing it; TIME TRAVEL to
    * earlier versions still reads it — the bytes stay in the files),
    * and its physical name is tombstoned so no later append can
    * reintroduce the name over the stale bytes. */
  def dropColumn(spark: SparkSession, dir: String, name: String): Int =
    alterMeta(spark, dir, "drop-column") { at =>
      val f = fieldOf(at, name)
      require(at.schema.fields.length > 1,
        s"cannot drop the only column of $dir")
      val evolved = StructType(at.schema.fields.filterNot(_ eq f))
      // a CHECK constraint or a surviving generated column referencing
      // the dropped column would fail on every later write (dropping the
      // GENERATED column itself is fine — its expression leaves with it)
      val what = s"cannot drop column '$name' of $dir"
      requireConstraintsResolve(spark, evolved, at.meta.constraints, what)
      requireGeneratedResolve(spark, evolved, what)
      // a declared stats/cluster key cannot silently vanish: the
      // declaration exists to guarantee that key's stats, so dropping
      // the column refuses until the property stops naming it
      val ps0 = at.meta.props
      Seq("stats.columns", "cluster.columns").foreach { k =>
        ps0.get(k).foreach { csv =>
          require(!csv.split(",").map(_.trim)
              .exists(_.equalsIgnoreCase(f.name)),
            s"cannot drop column '$name' of $dir: table property " +
              s"'$k' ($csv) declares it — update or UNSET the " +
              "property first")
        }
      }
      // a dropped column takes its name-keyed properties with it — a
      // surviving identity mark or comment would resurface on a
      // future column reusing the name — and leaves the bloom config
      at.meta.copy(schema = Some(evolved),
        dropped = at.meta.dropped + physOf(f),
        bloom = at.meta.bloom
          .map(c => c.copy(cols = c.cols.filterNot(_ == physOf(f))))
          .filter(_.cols.nonEmpty),
        props = ps0 - identityMarkKey(f) - s"column.comment.${f.name}")
    }

  /** ADD COLUMN — a metadata-only commit: the new version pins the
    * schema with one more nullable field at the end; ZERO data is
    * rewritten (every pre-evolution file reads NULL for it, exactly
    * the additive evolution [[append]] performs implicitly — this is
    * the explicit DDL spelling for widening a table before any write
    * carries the column). TIME TRAVEL to earlier versions keeps the
    * old shape. The name must collide with nothing: an existing
    * column (case-insensitive), a dropped column's tombstoned
    * physical (its bytes would resurrect from pre-drop files), or a
    * live physical behind a renamed column (its bytes would
    * cross-feed) — the same rules [[evolveSchema]] enforces on
    * writes. */
  def addColumn(spark: SparkSession, dir: String, name: String,
      dataType: DataType): Int =
    addColumn(spark, dir, name, dataType, None)

  /** [[addColumn]] with a DEFAULT: pre-evolution files materialize
    * `defaultSql`'s value SCAN-SIDE (Spark's `EXISTS_DEFAULT` field
    * metadata — the parquet readers fill columns missing from a file
    * from it), post-evolution writes that omit the column get it via
    * `CURRENT_DEFAULT` (the SQL INSERT default machinery), and an
    * explicit NULL written after the add stays NULL (the file HAS
    * the column). Still metadata-only — zero data rewritten; time
    * travel keeps the old shape. The default must be a DETERMINISTIC
    * CONSTANT expression castable to `dataType`: it is evaluated
    * once here and pinned as a literal — `rand()` would freeze one
    * arbitrary draw and `current_timestamp()` one instant, both
    * surprising, so they refuse. */
  def addColumn(spark: SparkSession, dir: String, name: String,
      dataType: DataType, defaultSql: Option[String]): Int = {
    require(name.nonEmpty && !name.contains("\t"),
      s"invalid column name '$name'")
    alterMeta(spark, dir, "add-column") { at =>
      require(!at.schema.fields.exists(_.name.equalsIgnoreCase(name)),
        s"column '$name' already exists in $dir")
      requireFreshName(at.schema, at.meta.dropped, dir, name)
      val md = defaultSql match {
        case None => Metadata.empty
        case Some(d) =>
          // analyze + evaluate ONCE against a dummy frame: the
          // expression must fold to one deterministic constant — that
          // constant is what every pre-evolution row will read forever
          val (pe, eval) =
            analyzedDefault(spark, s"ADD COLUMN $name DEFAULT", d, dataType)
          // a CONSTANT is an expression whose every LEAF is a literal:
          // this refuses rand() (nondeterministic) AND the
          // context-dependent leaves foldable does not — current_
          // timestamp()/current_date()/current_database() fold to one
          // DDL-instant value while CURRENT_DEFAULT would re-evaluate
          // per INSERT, splitting the column's meaning in two
          val nonLiteralLeaf = pe.collectFirst {
            case e if e.children.isEmpty &&
              !e.isInstanceOf[org.apache.spark.sql.catalyst.expressions
                .Literal] => e
          }
          require(pe.deterministic && pe.foldable && nonLiteralLeaf.isEmpty,
            s"ADD COLUMN $name DEFAULT ($d) must be a deterministic " +
              "constant over literals — nondeterministic, row-dependent " +
              "or evaluation-time values (current_timestamp, ...) would " +
              "freeze one arbitrary evaluation for pre-existing rows" +
              nonLiteralLeaf.fold("")(l => s" (offending: ${l.sql})"))
          val value = eval()
          // a non-NULL spelling that FOLDS to null (ANSI-off cast of a
          // malformed literal) would silently pin NULL where the user
          // wrote a value — refuse unless they asked for NULL
          require(value != null || d.trim.equalsIgnoreCase("null"),
            s"ADD COLUMN $name DEFAULT ($d) evaluates to NULL as " +
              s"${dataType.sql} — spell DEFAULT NULL if that is intended")
          val literalSql = org.apache.spark.sql.catalyst.expressions
            .Literal.create(value, dataType).sql
          // the two keys Spark's machinery reads: EXISTS_DEFAULT fills
          // the column for files that PREDATE it (scan-side, pinned
          // literal); CURRENT_DEFAULT fills INSERTs that omit it
          new MetadataBuilder()
            .putString("EXISTS_DEFAULT", literalSql)
            .putString("CURRENT_DEFAULT", d.trim)
            .build()
      }
      at.meta.copy(schema = Some(allNullable(StructType(at.schema.fields :+
        StructField(name, dataType, nullable = true, metadata = md)))))
    }
  }

  /** Analyze default-expression `d` cast to `dataType`: the UNALIASED
    * analyzed expression (for foldability/leaf judgment) and an
    * evaluate-once thunk whose failure refuses with `what` named —
    * never a bare cast error. Shared by [[addColumn]] and
    * [[setColumnDefault]]. */
  private def analyzedDefault(spark: SparkSession, what: String,
      d: String, dataType: DataType)
      : (Expression, () => Any) = {
    val frame =
      try spark.range(1).select(expr(d).cast(dataType).as("__d"))
      catch { case NonFatal(e) => throw new IllegalArgumentException(
        s"$what ($d) does not analyze as ${dataType.sql}: " +
          e.getMessage) }
    val pe = frame.queryExecution.analyzed match {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
        p.projectList.head match {
          // Alias.foldable is false BY DEFINITION — judge its child
          case a: org.apache.spark.sql.catalyst.expressions.Alias =>
            a.child
          case e => e
        }
      case other => throw new IllegalStateException(
        s"unexpected default-evaluation plan: ${other.nodeName}")
    }
    (pe, () =>
      try frame.head().get(0)
      catch { case NonFatal(e) => throw new IllegalArgumentException(
        s"$what ($d) does not evaluate as ${dataType.sql}: " +
          e.getMessage) })
  }

  /** SET / DROP the column's INSERT default (`CURRENT_DEFAULT`) — a
    * metadata-only commit (op `set-default`). Unlike [[addColumn]]'s
    * DEFAULT this never touches `EXISTS_DEFAULT`: rows in files that
    * predate the COLUMN keep reading whatever its creation pinned
    * (NULL when it was added default-less) — SET DEFAULT governs
    * future writes that omit the column, nothing retroactive, so
    * there is no frozen-evaluation hazard and evaluation-time
    * expressions (`current_timestamp()`, `current_date()`) are
    * ALLOWED — they re-evaluate per INSERT, which is their meaning.
    * Nondeterministic ones (`rand()`) still refuse. NOTE the writer
    * asymmetry shared with the lakehouse formats: SQL INSERTs that
    * omit the column materialize the default INTO the file (the
    * analyzer injects it); a DataFrame [[append]] omitting the column
    * writes a file WITHOUT it, which reads as the column's
    * `EXISTS_DEFAULT`-or-NULL, not as `CURRENT_DEFAULT`. */
  def setColumnDefault(spark: SparkSession, dir: String, name: String,
      defaultSql: Option[String]): Int =
    alterMeta(spark, dir, "set-default") { at =>
      val f = fieldOf(at, name)
      require(org.apache.spark.sql.graft.GraftSparkBridge
          .generationExpression(f).isEmpty,
        s"column '${f.name}' of $dir is GENERATED ALWAYS AS — a " +
          "generated column computes its value and cannot carry a " +
          "DEFAULT (Spark refuses the combination at CREATE, too)")
      require(org.apache.spark.sql.graft.GraftSparkBridge
          .identityInfo(f).isEmpty,
        s"column '${f.name}' of $dir is an IDENTITY column — its values " +
          "are system-assigned and cannot carry a DEFAULT")
      val md = defaultSql match {
        case Some(d) =>
          val (pe, eval) = analyzedDefault(spark,
            s"ALTER COLUMN $name SET DEFAULT", d, f.dataType)
          require(pe.deterministic && pe.foldable,
            s"ALTER COLUMN $name SET DEFAULT ($d) must be a " +
              "deterministic constant expression — a nondeterministic " +
              "default would make INSERT results irreproducible")
          eval() // proves it evaluates; NULL folds are the caller's call
          new MetadataBuilder().withMetadata(f.metadata)
            .putString("CURRENT_DEFAULT", d.trim).build()
        case None =>
          require(f.metadata.contains("CURRENT_DEFAULT"),
            s"column '$name' of $dir has no DEFAULT to drop")
          new MetadataBuilder().withMetadata(f.metadata)
            .remove("CURRENT_DEFAULT").build()
      }
      at.meta.copy(schema = Some(StructType(at.schema.fields.map(x =>
        if (x eq f) f.copy(metadata = md) else x))))
    }

  /** Value-preserving widenings the parquet reader performs natively
    * when the read schema is wider than a file's physical type
    * (verified against Spark 4.1's vectorized AND row-based readers).
    * INTEGRAL up-widening only: integers are exact injections, bloom
    * sidecars are unaffected (both build and probe normalize
    * integrals to long before hashing), and manifest stats re-cast
    * losslessly (min/max are stored as decimal strings, which
    * round-trip exactly for integers through the CURRENT schema type
    * at prune time). FLOAT→DOUBLE is deliberately ABSENT even though
    * the reader supports it: a float stat stringified as "0.1" re-cast
    * as double gives 0.1d, but the reader's upcast of the stored
    * 0.1f is 0.10000000149011612d — the re-cast bound can EXCLUDE a
    * value the file attains, and stats pruning would silently drop
    * matching rows. Widening a float column needs a data rewrite
    * (CREATE OR REPLACE ... AS SELECT CAST(...)). */
  private val Widenings: Map[DataType, Set[DataType]] = Map(
    ByteType -> Set(ShortType, IntegerType, LongType),
    ShortType -> Set(IntegerType, LongType),
    IntegerType -> Set[DataType](LongType))

  /** `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — a METADATA-ONLY
    * commit (op `widen-column`): the pinned schema's field widens,
    * zero data files are touched. Pre-widen files keep their narrow
    * physical type and read through the upcast the parquet reader
    * does natively; post-widen appends write the wide type — both
    * coexist in one table. Time travel keeps each version's own
    * shape. FLOAT→DOUBLE additionally REGENERATES the column's
    * per-file stats from the attained float values in the same
    * commit (the old float stat strings re-cast as double could
    * EXCLUDE attained values and silently break pruning) — still no
    * data rewrite, one column-pruned scan. Anything else outside
    * [[Widenings]] refuses with the remedy (narrowing or type
    * CHANGES need a rewrite — CREATE OR REPLACE). Widening to the
    * current type is an idempotent no-op. */
  def widenColumn(spark: SparkSession, dir: String, name: String,
      newType: DataType): Int = dmlOn(spark, dir, -1, "alter") { at =>
    import at.{fs, root, v}
    val schema = at.schema
    val f = fieldOf(at, name)
    // generated columns pin their type to the expression's (validated
    // at CREATE); widening the column OR a base column its expression
    // reads would silently change what future writes compute versus
    // what old files store — refuse both, loudly
    require(org.apache.spark.sql.graft.GraftSparkBridge
        .generationExpression(f).isEmpty,
      s"cannot widen column '${f.name}' of $dir: it is GENERATED " +
        "ALWAYS AS — its type is pinned to its expression's; drop and " +
        "re-create the table to change it")
    generatedOf(schema).foreach { case (gf, ge) =>
      val refs = spark.sessionState.sqlParser.parseExpression(ge).collect {
        case ua: org.apache.spark.sql.catalyst.analysis
            .UnresolvedAttribute => ua.nameParts.head.toLowerCase
      }.toSet
      require(!refs.contains(f.name.toLowerCase),
        s"cannot widen column '${f.name}' of $dir: generated column " +
          s"'${gf.name}' (GENERATED ALWAYS AS ($ge)) reads it — the " +
          "expression's result type would drift from the pinned " +
          "column type; drop the generated column first")
    }
    // copy keeps field metadata — the physical-name mapping of a
    // renamed column must survive its widening
    val evolved = at.meta.copy(schema = Some(StructType(schema.fields.map(x =>
      if (x eq f) x.copy(dataType = newType) else x))))
    if (f.dataType == newType) v
    else if (f.dataType == FloatType && newType == DoubleType &&
        at.chain.files.nonEmpty) {
      // FLOAT→DOUBLE is safe ONLY with REGENERATED stats: a float
      // stat string re-cast as double can EXCLUDE attained values
      // ("0.1" → 0.1d < (double)0.1f — pruning would silently drop
      // matching files). Recompute the column's per-file bounds from
      // the attained float values in ONE column-pruned distributed
      // pass (float→double cast is exact; double→string→double
      // round-trips exactly), carry every other column's lines
      // untouched, and land schema + corrected stats as ONE
      // full-manifest commit.
      val files = at.chain.files
      val phys = physOf(f)
      val resolved = resolveForeign(fs, files)
      val paths = resolved.map(x => new HPath(root, x).toString)
      // attribute scanned rows by FULL qualified path, never by base
      // name: a clone-sourced foreign ref can collide with an owned
      // file on base name, and a base-keyed map would attach one
      // file's bounds to the other — worse, the losing file would
      // fall to the zero-rows line below and pruning would treat a
      // non-empty file as provably empty
      val relByPath = resolved.zip(files).map { case (x, rel) =>
        fs.makeQualified(new HPath(root, x)).toString -> rel
      }.toMap
      require(relByPath.size == files.size,
        s"stats regeneration on $dir@v$v: distinct manifest entries " +
          "resolve to the same physical file — refusing to regenerate " +
          "(bounds would double-count)")
      val agg = spark.read
        .schema(StructType(Seq(StructField(phys, FloatType))))
        .parquet(paths: _*)
        .groupBy(col("_metadata.file_path").as("__f"))
        .agg(count(lit(1L)).as("__rows"),
          min(col(phys)).cast(DoubleType).cast(StringType).as("__mn"),
          max(col(phys)).cast(DoubleType).cast(StringType).as("__mx"),
          count(col(phys)).as("__nn"))
        .collect() // one row per data file
      val encPhys = enc(phys)
      val newLines = agg.toSeq.map { r =>
        val rel = relByPath.getOrElse(r.getString(0),
          throw new IllegalStateException(
            s"stats regeneration on $dir@v$v could not attribute " +
              s"scanned file ${r.getString(0)} to a manifest entry — " +
              "refusing to commit stats that would mis-prune"))
        val rows = r.getLong(1)
        def opt(i: Int) =
          if (r.isNullAt(i)) "null" else "v:" + enc(r.getString(i))
        s"#stats\t$rel\t$rows\t$encPhys\t${rows - r.getLong(4)}\t" +
          s"${opt(2)}\t${opt(3)}"
      }
      val covered = agg.map(r => relByPath(r.getString(0))).toSet
      // only files the scan saw ZERO rows from — genuinely empty
      val zeroLines = files.filterNot(covered)
        .map(rel => s"#stats\t$rel\t0\t$encPhys\t0\tnull\tnull")
      val carried = at.chain.fileLinesOf(files.toSet).filterNot { l =>
        l.startsWith("#stats\t") && {
          val p = l.split('\t'); p.length >= 4 && p(3) == encPhys
        }
      }
      commitOn(at, "widen-column", evolved, Some(Staged(files,
        dvLines(at.chain.dv, files.toSet) ++ carried ++ newLines ++
          zeroLines, schema)), removed = None)
    } else {
      require(Widenings.get(f.dataType).exists(_.contains(newType)) ||
          (f.dataType == FloatType && newType == DoubleType),
        s"ALTER COLUMN TYPE on graft tables supports integral " +
          s"widenings (TINYINT→SMALLINT/INT/BIGINT, SMALLINT→INT/" +
          s"BIGINT, INT→BIGINT) metadata-only, and FLOAT→DOUBLE with " +
          s"a stats-regeneration commit; '${f.name}' is " +
          s"${f.dataType.sql} and ${newType.sql} is neither — other " +
          "type changes rewrite data: use CREATE OR REPLACE TABLE " +
          "... AS SELECT with casts")
      commitOn(at, "widen-column", evolved)
    }
  }

  /** The schema a version's manifest pins (absent for manifests written
    * before schema pinning — those read by footer inference). */
  private def schemaOfLines(lines: Seq[String]): Option[StructType] =
    lines.collectFirst {
      case l if l.startsWith(SchemaPrefix) =>
        org.apache.spark.sql.types.DataType
          .fromJson(l.stripPrefix(SchemaPrefix)).asInstanceOf[StructType]
    }

  /** Every field nullable — the footer-inference convention this
    * replaces, and the truth once files can predate a column. */
  private def allNullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** ADDITIVE schema evolution for appends: columns shared with the
    * table must keep their exact type (a type change is an explicit
    * overwrite, never an implicit append); new columns join at the end
    * and read as NULL from files that predate them; table columns the
    * incoming frame lacks stay — its new files read NULL there. Order
    * and name casing follow the table. Column-mapping rules: shared
    * columns keep the TABLE's physical metadata (a physical mismatch
    * against what the batch staged means a rename landed mid-commit —
    * loud failure, the staged files wrote the wrong physical); a new
    * column's name must collide with neither a tombstoned physical
    * (its bytes would resurrect from pre-drop files) nor a live
    * physical behind a renamed column (its bytes would cross-feed). */
  private def evolveSchema(table: StructType, incoming: StructType,
      dir: String, dropped: Set[String]): StructType = {
    val byLower = table.fields.map(f => f.name.toLowerCase -> f).toMap
    incoming.fields.foreach { f =>
      byLower.get(f.name.toLowerCase) match {
        case Some(tf) =>
          require(tf.dataType == f.dataType,
            s"schema conflict on column '${tf.name}' of $dir: table has " +
              s"${tf.dataType.sql}, incoming frame has ${f.dataType.sql} — " +
              "type changes require an explicit overwrite")
          require(tf.name == f.name,
            s"column case drift on '${tf.name}' vs '${f.name}' in $dir — " +
              "rename to the table's casing")
          if (physOf(tf) != physOf(f))
            throw new java.util.ConcurrentModificationException(
              s"column '${tf.name}' of $dir was renamed while this batch " +
                s"staged (staged physical '${physOf(f)}', table physical " +
                s"'${physOf(tf)}') — re-run the write")
        case None => requireFreshName(table, dropped, dir, f.name)
      }
    }
    val added = incoming.fields
      .filterNot(f => byLower.contains(f.name.toLowerCase))
    allNullable(StructType(table.fields.map(stripPhysicalIfRedundant) ++
      added))
  }

  private def stripPhysicalIfRedundant(f: StructField): StructField =
    if (physOf(f) == f.name) stripPhysical(f) else f

  // ---- deletion vectors ---------------------------------------------
  //
  // The write-amplification escape hatch for NARROW deletes: a
  // copy-on-write [[deleteWhere]] of 1k rows scattered over 1k files
  // rewrites 1k files; [[deleteWhereLight]] instead records the
  // deleted ROW POSITIONS per file in a small sidecar (`#dv` manifest
  // line — file, sidecar path, count) and readers anti-join them out
  // by `_metadata.row_index`. The data files stay immutable (time
  // travel to pre-delete versions needs them verbatim); a file's
  // CURRENT vector is the newest `#dv` line along the delta chain,
  // and any rewrite of the file (merge/delete/compact/optimize)
  // retires the vector with it. This is the lakehouse deletion-vector
  // design reduced to its sound core: positions are original file row
  // indices (stable forever), a bounded sorted-long sidecar, loaded in
  // EXECUTORS at read time.

  private val DvPrefix = "#dv\t"

  /** Manifest ref → fully-qualified physical path: the key the
    * row-level verbs and change-feed attribution JOIN the scan on
    * (`_metadata.file_path` reports exactly this form — the same
    * qualification [[scanWithMeta]]'s partition fill already relies
    * on). Root-relative refs qualify under the table root; foreign
    * (clone-source) refs resolve through `_moved` markers first.
    * Unlike a file BASENAME — which a converted hive-partitioned
    * layout legitimately repeats across partition directories
    * (`k=1/part-00000-<uuid>`, `k=2/part-00000-<uuid>`) — the
    * qualified path is unique by construction, so the positional
    * verbs work on every manifest shape. The `#dv` manifest lines
    * themselves keep the REF (stable across `_moved` renames; a read
    * re-resolves). */
  private def physicalPaths(fs: FileSystem, root: HPath,
      refs: Seq[String]): Seq[(String, String)] =
    refs.zip(resolveForeign(fs, refs)).map { case (ref, resolved) =>
      ref -> metadataPathString(fs, new HPath(root, resolved))
    }

  /** EXACTLY the string `_metadata.file_path` reports for this file:
    * the qualified path's URI rendering — percent-ENCODED path (a
    * hive-escaped `%3A` directory prints as `%253A` there), scheme
    * kept, an empty authority omitted the way listed FileStatus paths
    * print it. Path-equality joins against the metadata column MUST
    * key here — `Path.toString` is the decoded form and diverges the
    * moment a partition value needed Hive escaping. */
  private def metadataPathString(fs: FileSystem, p: HPath): String = {
    val uri = fs.makeQualified(p).toUri
    val auth = Option(uri.getAuthority).filter(_.nonEmpty)
      .map("//" + _).getOrElse("")
    uri.getScheme + ":" + auth + uri.getRawPath
  }

  private def baseNameOf(f: String): String =
    f.substring(f.lastIndexOf('/') + 1)

  private val GfCol = "__graft_dv_file"
  private val GposCol = "__graft_dv_pos"

  private def dvLines(m: Map[String, (String, Long)],
      files: Set[String]): Seq[String] =
    m.filter { case (f, _) => files.contains(f) }.toSeq.sortBy(_._1)
      .map { case (f, (s, n)) => s"#dv\t$f\t$s\t$n" }

  private def writeDvSidecar(fs: FileSystem, root: HPath, rel: String,
      positions: Array[Long]): Unit = {
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(new HPath(root, rel), false)))
    try {
      out.writeLong(positions.length.toLong)
      positions.foreach(out.writeLong)
    } finally out.close()
  }

  /** Fold freshly matched row positions — `hits` rows of (qualified
    * file path, original row index) from [[scanWithMeta]] over
    * `mayMatch` — into version `base`'s vectors, the shared core of
    * the light DML verbs. Per file the new positions union with its
    * current vector; a file whose every ORIGINAL row (as recorded at
    * stage time) is now deleted drops whole, the rest get a fresh
    * sidecar under `sideDir`. Sidecar names are index-prefixed:
    * basenames may legitimately repeat across a converted layout's
    * partition dirs, and the name only needs uniqueness within the
    * commit dir. Returns (files dropped whole, file → new vector),
    * ready for [[casChange]]. */
  private def foldPositions(at: At, what: String, hits: Array[Row],
      mayMatch: Seq[String],
      sideDir: String): (Seq[String], Map[String, (String, Long)]) = {
    import at.{fs, root}
    val refByPhys = physicalPaths(fs, root, mayMatch).map(_.swap).toMap
    val oldDv = at.chain.dv
    fs.mkdirs(new HPath(root, sideDir))
    var dvIdx = 0
    val folded = hits.map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).toSeq.map { case (p, xs) =>
        val file = refByPhys.getOrElse(p, throw new IllegalStateException(
          s"$what: scanned path $p maps to no manifest ref — path " +
            "qualification drift; report this"))
        val old = oldDv.get(file)
          .map { case (side, _) => readDvSidecar(fs, root, side) }
          .getOrElse(Array.empty[Long])
        val merged = (old ++ xs.map(_._2)).distinct.sorted
        if (at.chain.rowsOf(file).contains(merged.length.toLong)) Left(file)
        else {
          val side = s"$sideDir/_dv.$dvIdx.${baseNameOf(file)}.bin"
          dvIdx += 1
          writeDvSidecar(fs, root, side, merged)
          Right(file -> (side, merged.length.toLong))
        }
      }
    (folded.collect { case Left(f) => f },
      folded.collect { case Right(dv) => dv }.toMap)
  }

  private def readDvSidecar(fs: FileSystem, root: HPath,
      rel: String): Array[Long] = {
    // a clone's foreign sidecar ref resolves through _moved markers
    // like every other read (no-op for owned refs)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(
        fs.open(new HPath(root, resolveForeign(fs, Seq(rel)).head))))
    try {
      val n = in.readLong().toInt
      Array.fill(n)(in.readLong())
    } finally in.close()
  }

  /** The (file basename, deleted position) pairs of a DV set as a
    * DataFrame, sidecar bytes read WHERE THE TASKS RUN — the driver
    * ships names, never positions. */
  /** The positions NEWLY deleted between two DV states, per file —
    * (file basename, position) pairs, sidecars read and set-diffed in
    * EXECUTORS ([[dvPositions]]' shipping discipline). Vectors only
    * accrete between rewrites, so cur ⊇ prev per file; a file whose
    * prev state had no vector diffs against the empty set. */
  private def dvNewPositions(spark: SparkSession, root: HPath,
      prevDv: Map[String, (String, Long)],
      curDv: Map[String, (String, Long)],
      files: Seq[String], physByRef: Map[String, String]): DataFrame = {
    val rootStr = root.toString
    val refs = files.map { f =>
      (physByRef(f),
        prevDv.get(f).map(_._1).getOrElse(""), curDv(f)._1)
    }
    import org.apache.spark.sql.Encoders
    val hconf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    spark.createDataset(refs)(Encoders.product[(String, String, String)])
      .flatMap { case (phys, prevSide, curSide) =>
        val p = new HPath(rootStr, curSide)
        val fs = p.getFileSystem(hconf.value.value)
        val cur = readDvSidecar(fs, new HPath(rootStr), curSide)
        val prev =
          if (prevSide.isEmpty) Array.empty[Long]
          else readDvSidecar(fs, new HPath(rootStr), prevSide)
        val prevSet = prev.toSet
        cur.iterator.filterNot(prevSet).map(pos => (phys, pos))
      }(Encoders.product[(String, Long)])
      .toDF("__dv_file", "__dv_pos")
  }

  private def dvPositions(spark: SparkSession, root: HPath,
      dv: Map[String, (String, Long)],
      physByRef: Map[String, String]): DataFrame = {
    val rootStr = root.toString
    val refs = dv.toSeq.map { case (f, (side, _)) =>
      (physByRef(f), side)
    }
    import org.apache.spark.sql.Encoders
    // ship the SESSION's Hadoop configuration to the tasks: a bare
    // `new Configuration()` loses every spark.hadoop.* setting (s3a
    // credentials, custom filesystems), and unlike the bloom probe's
    // fail-open pruning this read is correctness-critical — it must
    // open the sidecar with the same FS config the driver resolved
    // the table with, and fail closed if it can't
    val hconf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    spark.createDataset(refs)(Encoders.product[(String, String)])
      .flatMap { case (phys, side) =>
        val p = new HPath(rootStr, side)
        val fs = p.getFileSystem(hconf.value.value)
        readDvSidecar(fs, new HPath(rootStr), side).map(pos => (phys, pos))
      }(Encoders.product[(String, Long)])
      .toDF("__dv_file", "__dv_pos")
  }

  /** [[At.scan]] with two helper columns kept: the file's
    * fully-qualified physical path ([[GfCol]]) and original row index
    * ([[GposCol]]) — [[deleteWhereLight]] needs them to NAME the rows
    * it deletes. The path (not the basename) keys every positional
    * join here, so converted hive layouts that repeat basenames
    * across partition directories work like any other manifest. */
  private def scanWithMeta(at: At, files: Seq[String],
      dvV: Int): DataFrame = {
    import at.{fs, root, spark}
    // foreign (clone-source) refs resolve through _moved markers —
    // one metadata probe per distinct foreign root, none for owned
    // refs. The READER takes the decoded Path form; the metadata
    // JOIN key is the URI-encoded form the _metadata column reports
    // (built lazily — only the DV anti-join consumes it, and most
    // scans carry no vectors).
    val resolved = resolveForeign(fs, files)
    val paths = resolved.map(f => new HPath(root, f).toString)
    lazy val physByRef = files.zip(resolved).map { case (ref, res) =>
      ref -> metadataPathString(fs, new HPath(root, res))
    }.toMap
    val fileSet = files.toSet
    // schema, the partition property below and the vectors all come
    // from the call's resolved chains — a scan construction re-reads
    // no manifest
    val dv = at.chains(dvV).dv.filter { case (f, (_, n)) =>
      n > 0 && fileSet.contains(f)
    }
    // converted hive layouts ([[convert]]): the partition columns live
    // in the file PATHS, not the files — constant-fill them per file
    // with codegen'd expressions over _metadata.file_path (no UDF).
    // Files that physically carry the column (post-convert staged
    // rewrites) keep their stored values: the fill applies only where
    // the path carries the key=value marker.
    val partFill: Seq[StructField] =
      at.meta.props.get(ConvertPartitionsKey)
        .map(j => DataType.fromJson(j).asInstanceOf[StructType]
          .fields.toSeq)
        .getOrElse(Nil)
    // the marker probe runs on the ROOT-RELATIVE path (prefixed with
    // "/" so the first segment matches too): a table root that itself
    // contains a key= segment must not make staged files — which
    // carry the column physically — take the path branch. The prefix
    // is in the metadata column's own (URI-encoded) rendering, so the
    // strip works even when the root needed encoding
    val rootPrefix = metadataPathString(fs, root).stripSuffix("/") + "/"
    def attach(scan: DataFrame): DataFrame = {
      val filled =
        if (partFill.isEmpty) scan
        else {
          val relp = concat(lit("/"), when(
            col("_metadata.file_path").startsWith(rootPrefix),
            col("_metadata.file_path").substr(
              lit(rootPrefix.length + 1), lit(Int.MaxValue)))
            .otherwise(col("_metadata.file_path")))
          partFill.foldLeft(scan) { (df, f) =>
            val marker = "/" + f.name + "="
            val pat = java.util.regex.Pattern.quote(marker) + "([^/]+)/"
            // TWO percent-only decodes: the metadata path is the URI
            // rendering of an on-disk name that is itself
            // Hive-partition-escaped (`tz=UTC+02%3A00` on disk prints
            // `tz=UTC+02%253A00` in the column) — peel the URI layer,
            // then the Hive layer. Each layer is PERCENT-ONLY: neither
            // URI paths nor Hive escaping ever write `+` for a space,
            // so a literal `+` must survive — pre-escape it as %2B
            // before the (form-decoding) url_decode at both layers.
            def pdec(c: Column): Column =
              url_decode(regexp_replace(c, "\\+", "%2B"))
            val decoded = pdec(pdec(regexp_extract(relp, pat, 1)))
            val fromPath = when(decoded === HiveDefaultPartition,
              lit(null)).otherwise(decoded).cast(f.dataType)
            df.withColumn(f.name,
              when(relp.contains(marker), fromPath)
                .otherwise(col(f.name)))
          }
        }
      val withMeta = filled
        .withColumn(GfCol, col("_metadata.file_path"))
        .withColumn(GposCol, col("_metadata.row_index"))
      if (dv.isEmpty) withMeta
      else withMeta.join(dvPositions(spark, root, dv, physByRef),
        col(GfCol) === col("__dv_file") && col(GposCol) === col("__dv_pos"),
        "left_anti")
    }
    at.pinned match {
      case Some(s) if s.fields.forall(f => physOf(f) == f.name) =>
        attach(spark.read.schema(s).parquet(paths: _*))
      case Some(s) =>
        val phys = StructType(
          s.fields.map(f => stripPhysical(f).copy(name = physOf(f))))
        attach(spark.read.schema(phys).parquet(paths: _*))
          .select((s.fields.toSeq.map(f =>
            col(physOf(f)).as(f.name, f.metadata)) :+
            col(GfCol) :+ col(GposCol)): _*)
      case None => attach(spark.read.parquet(paths: _*))
    }
  }

  /** What a [[deleteWhereLight]] did: files that gained/updated a
    * deletion vector, files dropped whole (every original row now
    * deleted), files untouched, and the number of NEW positions. */
  final case class LightDeleteResult(version: Int, dvFiles: Int,
    droppedFiles: Int, untouchedFiles: Int, positionsDeleted: Long)

  /** DELETE by deletion vector — rows matching `pred` are removed from
    * the CURRENT version by recording their file row positions, with
    * NO data file read-and-rewritten: commit cost is O(matching rows),
    * not O(touched files' bytes). Identical result semantics to
    * [[deleteWhere]] (NULL-predicate rows kept); file-level pruning
    * still carries disproven files untouched; a file whose every
    * original row is now deleted leaves the manifest whole. Refuses
    * beyond `maxPositions` matches — the BULK path is the
    * copy-on-write [[deleteWhere]]; vectors are for the narrow,
    * scattered deletes (GDPR keys, bad-record surgeries) where CoW
    * write amplification is the problem. Vectors retire when
    * [[compact]]/[[optimize]]/[[merge]] rewrite their file;
    * [[aggregateFromManifest]] on DV'd tables keeps `count(*)` exact
    * (vector cardinalities are exact) but refuses per-column stats
    * (no longer attained); [[changesSince]]/the streaming source fail
    * loudly on DV drift (file identity no longer implies content
    * identity); [[diff]] handles it row-level. Unpinned races retry
    * like [[deleteWhere]]. */
  def deleteWhereLight(spark: SparkSession, dir: String, pred: Column,
      expectedVersion: Int = -1,
      maxPositions: Int = 1000000): LightDeleteResult =
    dmlOn(spark, dir, expectedVersion, "delete") { at =>
      val (mayMatch, untouched) = pruneAt(at, pred)
      val d = applyDv(at, "deleteWhereLight", maxPositions, mayMatch,
        "delete-light")(_.filter(isTrue(pred)))(_ => None)
      LightDeleteResult(d.version, d.dvFiles, d.dropped,
        untouched.size + (if (d.version > at.v) 0 else mayMatch.size),
        d.positions)
    }

  final case class LightUpdateResult(version: Int, dvFiles: Int,
    droppedFiles: Int, untouchedFiles: Int, updatedRows: Long)

  /** UPDATE by deletion vector — the merge-on-read twin of
    * [[updateWhere]], completing the light DML trio next to
    * [[deleteWhereLight]] and [[mergeLight]]: matched rows retire from
    * their files by POSITION (no rewrite of the untouched neighbors),
    * and the updated row images append as new files. Commit cost is
    * O(matching rows), not O(touched files' bytes) — the
    * narrow-update-on-wide-files shape (a GDPR field redaction, a
    * mispriced-tick correction) where copy-on-write amplification is
    * the problem. Same semantics as [[updateWhere]] (IS-TRUE
    * predicate, declared-type casts, CHECK constraints enforced on the
    * updated rows); same `maxPositions` bulk-refusal and vector
    * lifecycle as [[deleteWhereLight]] (vectors retire when a rewrite
    * touches their file; the usual honesty guards treat the commit as
    * content-changing). Updated rows relocate to the commit's new
    * files — row order within a snapshot table is not part of any
    * read contract. */
  def updateWhereLight(spark: SparkSession, dir: String, pred: Column,
      assignments: Seq[(String, Column)], expectedVersion: Int = -1,
      maxPositions: Int = 1000000): LightUpdateResult =
    dmlOn(spark, dir, expectedVersion, "update") { at =>
      val cols = at.table.schema
      val assigned = assignedOf(dir, cols, assignments)
      val (mayMatch, untouched) = pruneAt(at, pred)
      // the matched rows feed TWO consumers — the position collect and
      // the updated-image staging — so they are pinned once
      val d = applyDv(at, "updateWhereLight", maxPositions, mayMatch,
          "update-light", persist = true)(_.filter(isTrue(pred))) {
        _.map { matched =>
          val updated = assign(cols, assigned, lit(true))(matched)
          enforceConstraints(at, updated)
          updated
        }
      }
      LightUpdateResult(d.version, d.dvFiles, d.dropped,
        untouched.size + (if (d.version > at.v) 0 else mayMatch.size),
        d.positions)
    }

  /** A staged-but-uncommitted commit: the data files' root-relative
    * paths plus their encoded per-file column-stats manifest lines and
    * the staged frame's schema (pinned into the manifest at commit). */
  private case class Staged(files: Seq[String], stats: Seq[String],
    schema: StructType)

  /** Stage `df`'s parquet files under an immutable commit dir; return
    * their root-relative paths and per-file column stats. Nothing
    * references them until a manifest does — a crash here leaves
    * ignorable orphans only. `phys` maps the frame's logical column
    * names to the physical names the files must write (the table's
    * column mapping); columns it omits stage under their own name. The
    * recorded [[Staged.schema]] is LOGICAL, carrying the physical name
    * as field metadata where the two differ. */
  private def stage(df: DataFrame, fs: FileSystem, root: HPath,
      declared: (Seq[String], Seq[String]),
      phys: Map[String, String] = Map.empty,
      bloomCfg: Option[BloomConfig] = None): Staged = {
    val renamed = df.columns.filter(c => phys.getOrElse(c, c) != c)
    val out =
      if (renamed.isEmpty) df
      else df.select(df.columns.toSeq.map(c => col(c).as(phys.getOrElse(c, c))): _*)
    val logical = StructType(df.schema.fields.map { f =>
      val p = phys.getOrElse(f.name, f.name)
      if (p == f.name) stripPhysical(f) else withPhysical(stripPhysical(f), p)
    })
    writeStaged(out, fs, root, s"$DataDir/${java.util.UUID.randomUUID}",
      logical, bloomCfg, declared, phys)
  }

  /** Write `out` (already in its physical column names) as the new
    * commit dir `rel` and turn it into a [[Staged]]: the write job
    * itself collects each file's `#stats` ([[StatsTracker]]) — no
    * read-back; then list the parquet files, record commit-time sizes
    * (what [[audit]] verifies against — silent truncation/corruption of
    * an immutable data file is detectable forever after), build bloom
    * sidecars. `bucket` writes Spark's bucketed layout. Shared by
    * [[stage]] and [[optimizeBucketed]]. */
  private def writeStaged(out: DataFrame, fs: FileSystem, root: HPath,
      rel: String, logical: StructType, bloomCfg: Option[BloomConfig],
      declared: (Seq[String], Seq[String]),
      phys: Map[String, String] = Map.empty,
      bucket: Option[CatalogBucketSpec] = None): Staged = {
    val spark = out.sparkSession
    val dir = new HPath(root, rel)
    // declared stats overrides: `stats.columns` / `cluster.columns`
    // carry LOGICAL names — translate through this frame's column
    // mapping to the staged files' physical spelling; bloom cols are
    // stored physical already. Callers pass the declarations of the
    // base they commit on (CREATE/REPLACE: the incoming statement's).
    // The mapping lookup is CASE-INSENSITIVE, like every other name
    // resolution here — a declared 'ID' must find the mapping
    // recorded under 'id'.
    val (declOnly, declCluster) = declared
    val physLower = phys.map { case (k, v) => k.toLowerCase -> v }
    def toPhys(n: String): String =
      physLower.getOrElse(n.toLowerCase, n)
    val only = declOnly.map(toPhys)
    val include = (declCluster.map(toPhys) ++
      bloomCfg.map(_.cols).getOrElse(Nil)).distinct
    // The staged files' physical schema is KNOWN (it is the frame being
    // written): stat-column selection runs against it directly.
    val physSchema = StructType(logical.fields.map(f =>
      StructField(physOf(f), f.dataType, nullable = true)))
    val cols = statColumns(physSchema, only, include)
    val tracker = new StatsTracker(out.schema, cols.map(_.name),
      StatsMaxStringLen + 2, spark.sessionState.conf.sessionLocalTimeZone)
    GraftSparkBridge.writeParquet(out, fs.makeQualified(dir).toString,
      bucket, Seq(tracker))
    val listed = fs.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val files = listed.map(st => s"$rel/${st.getPath.getName}").toSeq
    val sizes = listed.map(st =>
      s"#size\t$rel/${st.getPath.getName}\t${st.getLen}").toSeq
    val byName = tracker.files.map(s => s.name -> s).toMap
    val statLines = listed.toSeq.flatMap { st =>
      val name = st.getPath.getName
      fileStatLines(s"$rel/$name", cols, byName.getOrElse(name,
        throw new IllegalStateException(
          s"the write of $dir reported no stats for its file $name")))
    }
    val bloomLines = bloomCfg.map(
      buildBlooms(spark, fs, root, rel, files, _)).getOrElse(Nil)
    Staged(files, sizes ++ statLines ++ bloomLines, logical)
  }

  /** One staged file's `#stats` lines, one per stat column:
    * {{{#stats\t<relfile>\t<rows>\t<col>\t<nulls>\t<min>\t<max>}}}
    * (tab-separated, URL-encoded fields), min/max either `v:<encoded>`
    * or `null` (no non-null value; a zero-row file records rows=0 and
    * both `null`, so pruning can always skip it). Values are Spark's
    * own cast-to-string of the file's min/max, whose string form
    * round-trips exactly for every stat-eligible type, so prune-time
    * comparisons reuse Spark cast semantics instead of a hand-rolled
    * type matrix. String values are the exception: they are truncated
    * to BOUNDS ([[truncMinStat]]/[[truncMaxStat]]) so a long text
    * column cannot bloat manifests or driver memory — the tracker
    * itself ships at most [[StatsMaxStringLen]]+2 code points, so full
    * document bodies never reach the driver at all (the +2 slack lets
    * the truncation detect "was longer than the cap"). */
  private def fileStatLines(file: String, cols: Seq[StructField],
      s: FileStats): Seq[String] =
    cols.zip(s.cols).map { case (f, (nonNull, mn, mx)) =>
      val isStr = f.dataType == StringType
      val mnV = mn.map(v => if (isStr) truncMinStat(v) else v)
      val mxV = mx.flatMap(v => if (isStr) truncMaxStat(v) else Some(v))
      def opt(o: Option[String]): String =
        o.map("v:" + enc(_)).getOrElse("null")
      s"#stats\t$file\t${s.rows}\t${enc(f.name)}\t" +
        s"${s.rows - nonNull}\t${opt(mnV)}\t${opt(mxV)}"
    }

  /** Stats cover the first [[StatsMaxCols]] atomic-typed top-level
    * columns (the Delta convention) — numeric, string, date,
    * timestamp, boolean. Nested / array / map / binary columns carry
    * no stats and are simply never prunable.
    *
    * Two declarations override the positional cap, so a wide table
    * (>32 stat-eligible columns) never silently loses pruning on the
    * keys it declared it reads by:
    *   - `stats.columns` table property (Delta's
    *     `dataSkippingStatsColumns` shape): when set, it REPLACES the
    *     positional selection — stats are collected for exactly the
    *     named columns;
    *   - declared `cluster.columns` and bloom-index columns are
    *     FORCE-INCLUDED either way — a declared clustering key past
    *     position 32 would otherwise be range-clustered at write but
    *     carry no min/max, degrading every stats consumer
    *     (prune/countWhere/stats-decided aggregates/drop-whole DML
    *     splits) to full scans. */
  private val StatsMaxCols = 32

  private def statColumns(schema: StructType, only: Seq[String] = Nil,
      include: Seq[String] = Nil): Seq[StructField] = {
    def eligible(f: StructField): Boolean = f.dataType match {
      case _: NumericType | StringType | DateType | TimestampType |
           TimestampNTZType | BooleanType => true
      case _ => false
    }
    // declared names resolve case-insensitively against the staged
    // files' schema; ineligible or absent names drop (fail-open —
    // those columns are simply never prunable). A declaration whose
    // EVERY name went stale (column since dropped/renamed behind the
    // property — the DDL guards refuse that, but older tables may
    // carry it) must not wipe out stats wholesale: fall back to the
    // positional selection.
    def named(ns: Seq[String]): Seq[StructField] = ns.flatMap(n =>
      schema.fields.find(_.name.equalsIgnoreCase(n))).filter(eligible)
    val declared = named(only)
    val base =
      if (declared.nonEmpty) declared
      else schema.fields.toSeq.filter(eligible).take(StatsMaxCols)
    (base ++ named(include)).distinct
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Hive/Spark partition-path unescaping: `%XX` sequences decode,
    * NOTHING else is special. Partition escaping never writes `+` for
    * a space (spaces appear literally; specials escape as `%XX`), so a
    * literal `+` in a directory value must survive — form decoding
    * would silently read it as a space. Implemented by pre-escaping
    * `+` as `%2B` so the stock decoder handles the rest, the exact
    * transform the scan side applies in [[scanWithMeta]]'s codegen'd
    * fill (the two MUST agree: convert writes the decoded value into
    * per-file stats, the scan re-derives it from the path). */
  private def percentDecode(s: String): String =
    java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")

  /** String stats are TRUNCATED Delta-style: a documents table's text
    * column must not embed whole document bodies in every manifest line
    * (and on the driver that collects them). Min becomes a ≤
    * [[StatsMaxStringLen]]-char prefix (a prefix is ≤ the full string —
    * a valid lower BOUND); max becomes the prefix with its last
    * safely-incrementable char bumped (strictly greater than anything
    * extending the prefix — a valid upper bound), or no stat at all in
    * the pathological all-near-U+FFFF case (fail-open: the file is
    * simply never pruned on that column's upper bound). Prune logic
    * treats stats as bounds, never attained values, so truncation can
    * only cost reads. */
  private[graft] val StatsMaxStringLen = 64

  private[graft] def truncMinStat(s: String): String =
    if (s.length <= StatsMaxStringLen) s
    else {
      // cut at a code-point boundary: a split surrogate pair would not
      // survive the UTF-8 round trip through the manifest
      var n = StatsMaxStringLen
      if (Character.isHighSurrogate(s.charAt(n - 1))) n -= 1
      s.substring(0, n)
    }

  private[graft] def truncMaxStat(s: String): Option[String] =
    if (s.length <= StatsMaxStringLen) Some(s)
    else {
      val p = truncMinStat(s)
      // bump the rightmost char that stays below the surrogate range —
      // the result is a well-formed string strictly above every string
      // that extends the untruncated prefix
      val i = p.lastIndexWhere(c => c < '\uD7FF')
      if (i < 0) None
      else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
    }

  /** One file's manifest stats for one column ([[Chain.stats]]). */
  private case class ColStats(min: Option[String], max: Option[String],
      nulls: Long, rows: Long)

  /** Total LIVE data bytes of `version` (current when -1, 0 when the
    * table is empty): commit-time recorded per-file sizes (`#size`
    * manifest lines), each discounted by its deletion-vector'd row
    * fraction. Approximate by design — it steers JOIN STRATEGY
    * (auto-broadcast of small snapshot tables read through the v1
    * relation, which otherwise reports `defaultSizeInBytes` =
    * never-broadcast), not correctness. Pre-`#size` manifests fall
    * back to one filesystem stat per unlisted file. */
  def liveBytes(spark: SparkSession, dir: String,
      version: Int = -1): Long = {
    atOpt(spark, dir, version).fold(0L) { at =>
      import at.{chain, fs, root}
      chain.files.iterator.map { f =>
        val bytes = chain.sizes.getOrElse(f,
          try fs.getFileStatus(
            new HPath(root, resolveForeign(fs, Seq(f)).head)).getLen
          catch { case NonFatal(_) => 0L })
        chain.dv.get(f).flatMap { case (_, cnt) =>
          chain.rowsOf(f).filter(_ > 0L)
            .map(rows => bytes * math.max(0L, rows - cnt) / rows)
        }.getOrElse(bytes)
      }.sum
    }
  }

  /** Upper-bound bytes a change feed over `(fromExclusive, to]` scans:
    * per commit, the files added plus the files removed vs its
    * predecessor (exactly the file set [[changeFeed]] may read —
    * common files cancel scan-free). Same planning-only contract as
    * [[liveBytes]]: approximate, steers join strategy. A file churned
    * twice in-range counts twice — an over-estimate never plans a
    * too-optimistic broadcast. */
  def feedBytes(spark: SparkSession, dir: String, fromExclusive: Int,
      to: Int): Long = {
    val chains = chainsFor(spark, dir)
    // walk the RETAINED versions only (changeFeed does the same) —
    // a vacuumed hole inside the range must not fail size estimation
    // where the read itself succeeds; `to` < 0 means current. Each
    // version resolves on top of its predecessor's chain ([[Chains]]):
    // every manifest in range is opened once.
    val lo = math.max(fromExclusive, 0)
    val all = versions(spark, dir)
    val hi = if (to >= 0) to else all.lastOption.getOrElse(return 0L)
    val walk = all.filter(v => v > lo && v <= hi)
    if (walk.isEmpty) return 0L
    var prev: Set[String] =
      if (lo == 0 || !all.contains(lo)) Set.empty
      else chains(lo).files.toSet
    var prevSizes: Map[String, Long] =
      if (lo == 0 || !all.contains(lo)) Map.empty
      else chains(lo).sizes
    var total = 0L
    walk.foreach { v =>
      val cur = chains(v).files.toSet
      val sizes = chains(v).sizes
      ((cur -- prev).iterator.map(f => sizes.getOrElse(f, 0L)) ++
        (prev -- cur).iterator.map(f => prevSizes.getOrElse(f, 0L)))
        .foreach(total += _)
      prev = cur
      prevSizes = sizes
    }
    total
  }

  // ---- commits -------------------------------------------------------
  //
  // Every version is published by one CAS ([[casManifest]]; deltas and
  // checkpoints through [[casChange]]) and a lost CAS is retried by one
  // loop, [[commitWithRebase]], which differs per verb only in its
  // rebase rule; [[retryOnRace]] is the full recompute above it.

  /** CAS one manifest: true iff this writer won version `v` — routes
    * the publication to the [[CommitCoordinator]] configured for
    * `fs`'s scheme (hard-link on local, rename on HDFS, conditional
    * create on object stores; see the matrix on [[CommitCoordinator]]
    * and [[setCommitCoordinator]] to override). */
  private def casManifest(fs: FileSystem, root: HPath, v: Int,
      files: Seq[String], header: Seq[String]): Boolean = {
    val md = new HPath(root, ManifestDir)
    fs.mkdirs(md)
    // stamp the reader-feature gate from the manifest's OWN lines —
    // derived, not caller-supplied, so no commit path can use a
    // row-visibility-critical directive without declaring it
    val body = header ++ files
    val requires = requiredFeaturesFor(body).map(RequiresPrefix + _)
    // publishResolving settles an object store's handed-off-but-failed
    // PUT by reading the target back (won / clean loss / truly unknown)
    // — manifests are writer-unique (freshly-staged uuid file names),
    // so a byte-equal read-back proves THIS commit landed
    CommitCoordinator.publishResolving(CommitCoordinators.forFs(fs), fs,
      manifestPath(root, v),
      ((requires ++ body).mkString("\n") + "\n").getBytes("UTF-8"))
  }

  /** CAS version `base + 1` as `base` minus `removed` plus `added` —
    * the ONE writer of delta and checkpoint manifests, so the choice
    * between them lives here alone. `header` is everything between
    * the pinned schema and the file-level lines (tombstones, bloom,
    * constraints, props, op, …); `newDv` holds the vectors this
    * commit (re)writes for files it keeps. Within the depth bound the
    * commit is a DELTA (`#delta` + `#remove` + the new `#dv` lines +
    * the added files' stats); past it a CHECKPOINT lists every
    * surviving file with its chain-resolved vector and stats lines.
    * True iff this writer won the version. */
  private def casChange(chains: Chains, base: Int,
      schema: StructType, header: Seq[String], removed: Seq[String] = Nil,
      added: Seq[String] = Nil, addedStats: Seq[String] = Nil,
      newDv: Map[String, (String, Long)] = Map.empty): Boolean = {
    import chains.{fs, root}
    val chain = chains(base)
    val depth = chain.depth + 1
    if (depth <= CheckpointInterval)
      casManifest(fs, root, base + 1, added,
        s"$DeltaPrefix$base\t$depth" +: schemaHeader(schema) +: (header ++
          removed.map(RemovePrefix + _) ++ dvLines(newDv, newDv.keySet) ++
          addedStats))
    else {
      val gone = removed.toSet
      val kept = chain.files.filterNot(gone)
      casManifest(fs, root, base + 1, kept ++ added,
        schemaHeader(schema) +: (header ++
          dvLines(chain.dv ++ newDv, kept.toSet) ++
          chain.fileLinesOf(kept.toSet) ++ addedStats))
    }
  }

  /** Publish `body` at `target` through the scheme's commit CAS —
    * exclusive-create semantics for NON-manifest metadata documents
    * (the view catalog's definition files): true iff THIS call
    * created the file; a racing writer's bytes are never clobbered.
    * Reuses the per-scheme [[CommitCoordinator]] matrix, so the
    * local-filesystem hard-link CAS and the object-store conditional
    * create apply here too. */
  private[graft] def publishExclusive(spark: SparkSession, target: String,
      body: Array[Byte]): Boolean = {
    val p = new HPath(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    CommitCoordinator.publishResolving(CommitCoordinators.forFs(fs),
      fs, p, body)
  }

  /** Install `coordinator` for every table on filesystems of `scheme`,
    * overriding the built-in matrix (`file` → hard-link, `hdfs` →
    * rename, S3/GCS/ABFS schemes → conditional create; see
    * [[CommitCoordinator]]). Unlisted schemes fall back to
    * [[RenameCommitCoordinator]] — verify that scheme's rename
    * semantics (atomic existing-destination refusal) or register an
    * explicit coordinator before multi-writer use there.
    * Process-wide; set it before the first commit of the process. */
  def setCommitCoordinator(scheme: String,
      coordinator: CommitCoordinator): Unit =
    CommitCoordinators.set(scheme, coordinator)

  /** Remove a per-scheme override (tests; restores the built-in
    * matrix entry for known schemes, the default otherwise). */
  def clearCommitCoordinator(scheme: String): Unit =
    CommitCoordinators.clear(scheme)

  /** The ingest commit ([[ingest]], [[overwrite]], the empty-table
    * branch of [[mergeCow]]): `staged` lands on base `from` (0: nothing
    * committed) through the one CAS loop, [[commitWithRebase]], whose
    * rebase rule here is "the tip still admits the batch". A `fresh`
    * commit (overwrite) is a full manifest of the staged files — a new
    * lineage that carries no metadata, so every tip admits it and the
    * last writer wins. Otherwise the batch lands on the base as a delta
    * (or the depth-bound checkpoint) whose header renders from the
    * base's metadata, and the base's pinned schema evolves additively
    * under it (a conflict throws before anything commits); a tip admits
    * the batch while its CHECK constraints are among those `validated`
    * and its identity marks are as `expect`ed (ids assigned from a mark
    * that moved may collide with the winner's). An interloper that
    * removed files, changed vectors or set an unrelated property never
    * forces a re-stage; one the tip does not admit throws
    * ConcurrentModificationException, which sends [[dml]] to re-shape on
    * the new base. `rebase = false` is the never-rebase rule, for a batch
    * whose rows hold only on an empty base (a merge that found the table
    * empty inserts every source row): a lost race throws, and [[dml]]
    * re-classifies against the tip. `delta` lands in the table
    * properties (on a first commit too: [[replicate]]'s first sync
    * records its mark there), `header` after the op header, and `guard`
    * runs against every base a CAS is tried on. */
  private def commitIngest(spark: SparkSession, dir: String, chains: Chains,
      from: Int, staged: Staged, op: String, header: Seq[String],
      guard: Option[Int] => Unit, fresh: Boolean = false,
      rebase: Boolean = true,
      validated: Map[String, String] = Map.empty,
      expect: Map[String, Option[String]] = Map.empty,
      delta: Map[String, String] = Map.empty): Int = {
    import chains.{fs, root}
    def admits(tip: Int): Boolean = fresh || rebase && {
      val meta = chains(tip).meta
      meta.constraints.toSet.subsetOf(validated.toSet) &&
        expect.forall { case (k, e) => meta.props.get(k) == e }
    }
    val hdr = opHeader(op) ++ header
    commitWithRebase(spark, dir, from, op, (_, tip) => admits(tip)) { b =>
      guard(Some(b).filter(_ > 0))
      if (fresh || b == 0)
        casManifest(fs, root, b + 1, staged.files,
          schemaHeader(allNullable(staged.schema)) +:
            (Meta(props = delta).header ++ hdr ++ staged.stats))
      else {
        val meta = chains(b).meta
        casChange(chains, b, evolveSchema(
          At(spark, dir, b, unpinned = true, chains).schema, staged.schema,
          dir, meta.dropped), meta.withProps(delta).header ++ hdr,
          added = staged.files, addedStats = staged.stats)
      }
    }
  }

  /** CREATE TABLE as ONE atomic commit: version 1 pins the schema,
    * the table properties (e.g. `cluster.columns`, `comment`), and
    * the CHECK constraints together — there is never a moment when
    * the table exists half-configured (the multi-commit alternative
    * leaves a crash window where the table is created but its
    * declared clustering/constraints are not yet attached, and a
    * racing writer could commit v2 between them). The schema is
    * pinned via one empty parquet file (the format's invariant — a
    * manifest lists at least one file); all columns commit nullable
    * (files may predate later-added columns), so a NOT NULL contract
    * arrives here as an explicit `col IS NOT NULL` CHECK constraint,
    * enforced on every subsequent write.
    *
    * Constraint expressions are ANALYZED against the schema before
    * the commit — a predicate referencing a missing column refuses
    * here, not on the first write. Returns the committed version (1).
    * Loses loudly to a racing creator of the same directory. */
  def createTable(spark: SparkSession, dir: String, schema: StructType,
      properties: Map[String, String] = Map.empty,
      checkConstraints: Map[String, String] = Map.empty): Int = {
    require(currentVersion(spark, dir).isEmpty,
      s"already a snapshot table under $dir")
    commitReplaceTable(spark, dir, schema, properties, checkConstraints,
      staged = Nil, mustNotExist = true)
  }

  /** A staged-but-uncommitted data set for the two-phase
    * CREATE/REPLACE TABLE protocol ([[stageReplaceData]] →
    * [[commitReplaceTable]] | [[abortStagedData]]) — the seam Spark's
    * `StagingTableCatalog` needs for ATOMIC `CREATE OR REPLACE TABLE
    * ... AS SELECT`: data files exist on disk but nothing references
    * them until the one commit manifest lands; a crash anywhere before
    * that leaves ignorable orphans (vacuum/clean_orphans reaps them),
    * never a half-replaced table. Opaque outside this object. */
  final class StagedReplace private[Snapshots] (
      private[Snapshots] val files: Seq[String],
      private[Snapshots] val stats: Seq[String])

  /** Phase one of an atomic CREATE/REPLACE: write `df`'s parquet files
    * under the table's data dir WITHOUT committing a manifest.
    * `properties` are the CREATE/REPLACE statement's table properties
    * — the stats-collection declarations (`stats.columns`,
    * `cluster.columns`) come from THERE, not from any existing
    * version (REPLACE resets metadata to the statement's). */
  def stageReplaceData(df: DataFrame, dir: String,
      properties: Map[String, String] = Map.empty): StagedReplace = {
    val (fs, root) = fsFor(df.sparkSession, dir)
    val staged = stage(df, fs, root, declaredOf(properties))
    new StagedReplace(staged.files, staged.stats)
  }

  /** Phase two: land schema + properties + CHECK constraints + the
    * staged data as ONE commit. On an existing table this REPLACES the
    * content (op `replace-table`, next version — previous versions
    * stay readable until [[vacuum]], the snapshot-native REPLACE);
    * on an empty directory it is the atomic CTAS (op `create-table`,
    * v1). Table configuration (properties, constraints, clustering,
    * bloom columns, column mapping) RESETS to what the statement
    * declares — REPLACE is by definition a fresh table contract.
    * `mustExist` / `mustNotExist` pin the DDL verb's semantics
    * (REPLACE / CREATE) against racing creators; constraints are
    * analyzed against the new schema and ENFORCED on the staged rows
    * before the commit. A lost CAS race throws — a REPLACE that raced
    * another writer must not silently clobber its commit. */
  def commitReplaceTable(spark: SparkSession, dir: String,
      schema: StructType, properties: Map[String, String],
      checkConstraints: Map[String, String],
      staged: Seq[StagedReplace],
      mustExist: Boolean = false, mustNotExist: Boolean = false): Int = {
    require(schema.fields.nonEmpty, s"CREATE/REPLACE TABLE $dir needs columns")
    checkConstraints.keys.foreach(n => require(n.matches("[A-Za-z0-9._-]+"),
      s"constraint name must be [A-Za-z0-9._-]+, got '$n'"))
    Seq("stats.columns", "cluster.columns").foreach(k =>
      properties.get(k).foreach(validateDeclaredStatCols(k, _, schema, dir)))
    requireConstraintsResolve(spark, schema, checkConstraints,
      s"CREATE/REPLACE TABLE $dir")
    val (fs, root) = fsFor(spark, dir)
    var files = staged.flatMap(_.files)
    var stats = staged.flatMap(_.stats)
    if (checkConstraints.nonEmpty && files.nonEmpty) {
      val data = spark.read.schema(schema)
        .parquet(files.map(f => new HPath(root, f).toString): _*)
      checkConstraints.foreach { case (n, e) =>
        val bad = data.filter(!expr(e)).take(1)
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"CHECK constraint '$n' ($e) on $dir violated by incoming " +
            s"row: ${bad.head} — nothing was committed")
      }
    }
    if (files.isEmpty) { // plain CREATE / REPLACE TABLE (no AS SELECT)
      val s = stage(spark.createDataFrame(
        spark.sparkContext.parallelize(Seq.empty[Row], 1), schema), fs, root,
        declaredOf(properties))
      files = s.files; stats = s.stats
    }
    val base = currentVersion(spark, dir)
    if (mustNotExist && base.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"CREATE TABLE at $dir lost the race — the table now exists")
    if (mustExist && base.isEmpty) throw new java.util.NoSuchElementException(
      s"REPLACE TABLE: no snapshot table under $dir")
    val next = base.getOrElse(0) + 1
    val won = casManifest(fs, root, next, files,
      schemaHeader(allNullable(schema)) +:
        (Meta(constraints = checkConstraints, props = properties).header ++
          opHeader(if (base.isEmpty) "create-table" else "replace-table") ++
          stats))
    if (!won) throw new java.util.ConcurrentModificationException(
      s"CREATE/REPLACE TABLE at $dir@v${base.getOrElse(0)} lost the commit " +
        s"race — a writer landed v$next first; re-run the statement " +
        "against the current table")
    next
  }

  /** Abandon staged CREATE/REPLACE data: delete the staged commit
    * dirs. Safe to skip — unreferenced files are invisible to readers
    * and reaped by [[cleanOrphans]] — but a polite abort keeps the
    * directory walk small. */
  def abortStagedData(spark: SparkSession, dir: String,
      staged: Seq[StagedReplace]): Unit = {
    val (fs, root) = fsFor(spark, dir)
    staged.flatMap(_.files).map(f => f.take(f.lastIndexOf('/')))
      .distinct.foreach(rel => fs.delete(new HPath(root, rel), true))
  }

  /** TRUNCATE TABLE — remove every row, keep the table: schema,
    * properties, CHECK constraints, clustering declaration, column
    * mapping and bloom config all carry; ONE commit (op `truncate`).
    * Unlike [[overwrite]] (which resets table configuration by
    * design), truncate is a DATA verb: the table contract survives,
    * only the rows leave. Previous versions stay readable until
    * [[vacuum]]; the change feed decomposes the commit as row-level
    * deletes via the diff path. Idempotent under the race retry
    * (truncating a truncated table is a no-op in content). */
  def truncate(spark: SparkSession, dir: String): Int =
    dmlOn(spark, dir, -1, "truncate") { at =>
      commitOn(at, "truncate", at.meta,
        Some(stageAt(at, at.table.limit(0))), removed = None)
    }

  /** The DATA-verb overwrite — what SQL `INSERT OVERWRITE` means on a
    * catalog table: replace every row with `df`, KEEP the table
    * contract (schema pinning, CHECK constraints — enforced on the
    * incoming rows — properties, clustering declaration, bloom config,
    * column mapping), as ONE commit (op `overwrite`). Contrast
    * [[overwrite]], the table-RELOAD primitive the path-based API
    * keeps: that one starts a fresh lineage and resets carried
    * configuration by design (the S8 truncate-and-reload shape, where
    * the reload IS the new table definition). A SQL user who declared
    * a CHECK constraint must not lose it to a routine INSERT
    * OVERWRITE — that would be a silently-dropped data contract.
    * Columns must match the table's (any order); refuses on an empty
    * directory (no contract to keep — the first load is a create or
    * an append). Identity values keep assigning from the mark —
    * replaced rows' ids are NOT recycled (a restart from START would
    * collide with ids the old content leaked downstream); the CAS on
    * the assignment's own base guards the mark. */
  def overwriteData(spark: SparkSession, dir: String,
      df: DataFrame): Int =
    dmlOn(spark, dir, -1, "overwrite") { at =>
      val cols = at.table.columns
      require(cols.sorted.sameElements(df.columns.sorted),
        s"INSERT OVERWRITE columns ${df.columns.toSeq} != table " +
          s"columns ${cols.toSeq}")
      shaped(Some(at), df.select(cols.map(df.col).toSeq: _*)) { (rows, ia) =>
        commitOn(at, "overwrite", at.meta.withProps(ia.delta),
          Some(stageAt(at, rows)), removed = None)
      }
    }

  /** Append `df` as a new version (previous files + the new ones).
    * Returns the committed version. Concurrent appends both land, in
    * some order — appends commute, so the retry is lossless. */
  def append(df: DataFrame, dir: String): Int =
    dml(df.sparkSession, dir, -1, "append")(ingest(_, dir, df, "append")._1)

  /** The ingest verbs' one path ([[append]], [[idempotentAppend]],
    * [[copyInto]]) on base `at` (None: no table yet): [[shaped]] for the
    * base, staged under its column mapping and bloom config, then
    * committed by [[commitIngest]] with `header`: its first CAS goes at
    * the version `at` resolved, and a lost one rebases onto the tip while
    * the tip admits the batch (its constraints and identity marks hold),
    * else aborts to the caller's [[dml]] retry (re-shape on the new
    * base). `guard` runs against every base a CAS is tried on.
    * Returns the committed version and what was staged. */
  private def ingest(at: Option[At], dir: String, df: DataFrame, op: String,
      header: Seq[String] = Nil,
      guard: Option[Int] => Unit = _ => ()): (Int, Staged) = {
    val spark = df.sparkSession
    val chains = at.fold(chainsFor(spark, dir))(_.chains)
    shaped(at, df) { (rows, ia) =>
      val staged =
        stageOn(chains.fs, chains.root, at.fold(Meta())(_.meta), rows)
      (commitIngest(spark, dir, chains, at.fold(0)(_.v), staged, op, header,
        guard, validated = at.fold(Map.empty[String, String])(
          _.meta.constraints), expect = ia.expect, delta = ia.delta), staged)
    }
  }

  /** An ingest frame made ready for base `at` (None: no table yet):
    * generated columns materialize, then identity values assign from
    * the base's marks — BEFORE clustering, since either may be the
    * declared cluster key — then [[clusterForWrite]] lays it out; the
    * result must pass the base's name rules ([[validateIncoming]]) and
    * CHECK constraints. `write` gets it with the identity assignment
    * whose marks the commit must still observe; the assignment's pin is
    * released after. */
  private def shaped[A](at: Option[At], df: DataFrame)(
      write: (DataFrame, IdentityAssignment) => A): A = {
    val meta = at.fold(Meta())(_.meta)
    val ia = assignIdentity(df.sparkSession, meta,
      meta.schema.fold(df)(materializeGenerated(_, df)))
    try {
      val rows = clusterForWrite(declaredOf(meta.props)._2, ia.frame)
      at.foreach { a => validateIncoming(a, rows); enforceConstraints(a, rows) }
      write(rows, ia)
    } finally ia.pin.foreach(_.unpersist())
  }

  /** Shape an INGEST frame for the table's DECLARED clustering keys
    * before staging: range-partition on the keys across the incoming
    * partition count, then sort within partitions — each staged file
    * covers a tight, (near-)disjoint key range, so stats pruning
    * (scans, [[countWhere]], DML footprints, [[pruneFiles]]) works
    * from the FIRST append rather than only after OPTIMIZE, which on
    * a 100 TB ingest table may never get to run between writes.
    *
    * Deliberate bounds: the incoming partition count is preserved (a
    * small streaming tick never explodes into shuffle-partition-many
    * tiny files); a single-partition input skips the shuffle and only
    * sorts; a frame missing a declared key (schema-evolution lag)
    * passes through untouched; tables without declared clustering are
    * unaffected. Applies to the pure data-ingest verbs only
    * (append / exactly-once streaming append / INSERT OVERWRITE) —
    * DML rewrites keep their footprint-sized staging and rely on
    * maintain/OPTIMIZE for layout, as before. The range sampling pass
    * re-evaluates the input (the standard Spark range-exchange cost —
    * Iceberg's range distribution pays the same). */
  private def clusterForWrite(declared: Seq[String],
      df: DataFrame): DataFrame = {
    if (declared.isEmpty) return df
    // canonicalize to the FRAME's spelling: the declaration and the
    // ingest frame may disagree on case, and Layout resolves schema
    // fields case-sensitively
    val keys = declared.map(k => df.columns.find(_.equalsIgnoreCase(k)))
    if (keys.exists(_.isEmpty)) return df // evolution lag: pass through
    val canon = keys.flatten
    val cols = canon.map(col)
    // partition count from the INITIAL physical plan — `df.rdd` under
    // adaptive execution would materialize every upstream shuffle
    // stage just to count partitions (a whole extra evaluation of the
    // ingest input on top of the range-sampling pass)
    val n = df.queryExecution.sparkPlan.outputPartitioning.numPartitions
    // Z-interleave only where Layout.cluster can: 2-7 keys (8 bits
    // each must fit one long), every key numeric/date/timestamp-
    // castable, and no __zkey name collision. Note the Z path adds an
    // approx-quantile pass over the input on top of the range
    // exchange's sampling — the price of first-append multi-column
    // skipping; the lexicographic range fallback costs what a plain
    // sort does.
    val zable = canon.size >= 2 && canon.size <= 7 &&
      canon.forall(c => statEligible(df.schema(c).dataType)) &&
      !df.columns.exists(_.equalsIgnoreCase("__zkey"))
    if (n <= 1) df.sortWithinPartitions(cols: _*)
    // several keys → the SAME Z-order maintain/OPTIMIZE would apply,
    // so write-time and maintenance layouts agree (every declared
    // column's per-file spans narrow, not just the first)
    else if (zable) graft.ops.Layout.cluster(df, canon, numFiles = n)
    else df.repartitionByRange(n, cols: _*)
      .sortWithinPartitions(cols: _*)
  }

  /** Replace the table content with `df` as a new version. Last writer
    * wins among concurrent overwrites (the documented semantic);
    * earlier versions remain readable until [[vacuum]]. */
  def overwrite(df: DataFrame, dir: String): Int =
    overwrite(df, dir, Nil, _ => ())

  /** [[overwrite]] with the manifest `header` lines and a `guard` run
    * against the resolved version before staging and against every base
    * a CAS is tried on. A fresh lineage: [[commitIngest]] rebases it
    * onto any tip that beat its CAS. */
  private def overwrite(df: DataFrame, dir: String, header: Seq[String],
      guard: Option[Int] => Unit): Int =
    dml(df.sparkSession, dir, -1, "overwrite") { at =>
      guard(at.map(_.v))
      val chains = at.fold(chainsFor(df.sparkSession, dir))(_.chains)
      // a fresh lineage carries no metadata, but its files collect the
      // stats the replaced table declares
      val declared =
        declaredOf(at.fold(Map.empty[String, String])(_.meta.props))
      commitIngest(df.sparkSession, dir, chains, at.fold(0)(_.v),
        stage(df, chains.fs, chains.root, declared), "overwrite", header,
        guard, fresh = true)
    }

  private val CommitTag = """#commit writer=([A-Za-z0-9._-]+) batch=(-?\d+)""".r

  /** Raised by an exactly-once guard once its batch is found committed;
    * [[exactlyOnce]] turns it into the verb's `None`. */
  private object Replayed extends scala.util.control.ControlThrowable

  /** Run an exactly-once verb for Structured Streaming's foreachBatch:
    * `body` gets the (writerId, batchId) tag's manifest header — the
    * record of the batch IN its commit — and the guard it must run
    * against every base it would commit on. The guard finds the
    * writer's newest tag at or below that base and ends the verb with
    * None when it covers `batchId`: foreachBatch batch ids grow
    * monotonically per query and one query runs its batches serially,
    * so such a batch has already landed — a replay (task retry, driver
    * restart, checkpoint recovery) or the batch racing itself. Versions
    * already scanned are not read again, so a retry reads only the
    * commits that landed since (O(distance), not O(history)). A crash
    * between the manifest CAS and anything else needs no repair: the
    * manifest IS the record. */
  private def exactlyOnce[A](spark: SparkSession, dir: String,
      writerId: String, batchId: Long)(
      body: (Seq[String], Option[Int] => Unit) => A): Option[A] = {
    require(writerId.matches("[A-Za-z0-9._-]+"),
      s"writerId must be [A-Za-z0-9._-]+, got '$writerId'")
    val chains = chainsFor(spark, dir)
    var scanned = 0
    def guard(base: Option[Int]): Unit = base.filter(_ > scanned).foreach { b =>
      val newest = versionsFs(chains.fs, chains.root)
        .filter(v => v > scanned && v <= b)
        .reverseIterator.flatMap(v => chains(v).lines.collectFirst {
          case CommitTag(w, n) if w == writerId => n.toLong
        }).nextOption()
      if (newest.exists(_ >= batchId)) throw Replayed
      scanned = b
    }
    try Some(body(Seq(s"#commit writer=$writerId batch=$batchId"), guard))
    catch { case Replayed => None }
  }

  /** Exactly-once append ([[exactlyOnce]]): a replayed (writerId,
    * batchId) is skipped (None) instead of double-appending. Distinct
    * writerIds compose — several streams may append to one table
    * through the normal CAS retry. */
  def idempotentAppend(df: DataFrame, dir: String, writerId: String,
      batchId: Long): Option[Int] =
    exactlyOnce(df.sparkSession, dir, writerId, batchId) { (tag, guard) =>
      dml(df.sparkSession, dir, -1, "append") { at =>
        guard(at.map(_.v))
        ingest(at, dir, df, "append", tag, guard)._1
      }
    }

  /** Exactly-once OVERWRITE, same replay discipline as
    * [[idempotentAppend]]: a replayed (writerId, batchId) is skipped.
    * This is the primitive for versioned STATE (an incremental rollup,
    * a dimension snapshot) advanced once per batch — each version is
    * the full new state, and a batch retry must not re-advance it. */
  def idempotentOverwrite(df: DataFrame, dir: String, writerId: String,
      batchId: Long): Option[Int] =
    exactlyOnce(df.sparkSession, dir, writerId, batchId)(
      overwrite(df, dir, _, _))

  /** Rewrite a version's content into `numFiles` files and commit it
    * as the next version — the small-file compaction a streaming writer
    * needs after thousands of tiny per-batch commits. Content-identical
    * by construction (one read, one write, no transform). The base is
    * `expectedVersion` when given, else the current version; the commit
    * lands only directly on that base. A writer that commits first
    * makes it throw ConcurrentModificationException, and it is NOT
    * retried: a rewrite of the old base on top of the racing commit
    * would drop that writer's rows, so compacting during active writes
    * is a coordination decision the caller makes. Old versions (and
    * their small files) stay readable until [[vacuum]]. */
  def compact(spark: SparkSession, dir: String, numFiles: Int,
      expectedVersion: Int = -1): Int = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    maybeReanalyze(spark, dir, rewriteCurrent(spark, dir,
      _.table.coalesce(numFiles), expectedVersion, op = "compact"))
  }

  /** OPTIMIZE ... ZORDER BY for snapshot tables: the current version
    * rewritten clustered on `cols` ([[Layout.cluster]] — per-file
    * min/max narrow on every clustered column) as a new
    * content-identical version, under the same OCC discipline as
    * [[compact]]. The maintenance loop of a streaming snapshot table
    * is append → optimize → vacuum, each a separate atomic commit. */
  def optimize(spark: SparkSession, dir: String, cols: Seq[String],
      numFiles: Int, bits: Int = 8, expectedVersion: Int = -1): Int = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    maybeReanalyze(spark, dir, rewriteCurrent(spark, dir,
      at => Layout.cluster(at.table, clusterKeys(at, cols), bits, numFiles),
      expectedVersion, op = "optimize"))
  }

  /** Incremental OPTIMIZE — re-cluster ONLY the files `pred` may touch
    * (Delta's `OPTIMIZE ... WHERE`): on a 100 TB table the maintenance
    * loop never re-clusters the whole history, it optimizes the region
    * the last day's appends landed in. Same file machinery as
    * [[readWhere]]: files whose stats DISPROVE `pred` carry into the
    * new manifest by name (never read); the rest rewrite through
    * [[Layout.cluster]] as a content-identical delta commit
    * (`#remove` lines for the rewritten files — O(touched) metadata).
    * Unrecognized predicates fail open into a full optimize. Returns
    * the committed version, or `base` untouched when nothing matches.
    * OCC discipline of [[compact]]: a racing commit throws. */
  def optimizeWhere(spark: SparkSession, dir: String, pred: Column,
      cols: Seq[String], numFiles: Int, bits: Int = 8,
      expectedVersion: Int = -1): Int = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    maintenance(spark, dir, expectedVersion, "optimize") { at =>
      val (mayMatch, _) = pruneAt(at, pred)
      if (mayMatch.isEmpty) at.v
      else maybeReanalyze(spark, dir, commitOn(at, "optimize-where", at.meta,
        Some(stageAt(at, Layout.cluster(at.scan(mayMatch),
          clusterKeys(at, cols), bits, numFiles))), Some(mayMatch)))
    }
  }

  /** Manifest property naming the version whose files are already
    * clustered — [[optimizeIncremental]]'s debt ledger. */
  private val OptimizeThroughProp = "graft.optimize.through"

  /** Incremental whole-layout OPTIMIZE: re-cluster ONLY the files
    * committed since the last optimize — the manifest property
    * `graft.optimize.through` records the version whose file set was
    * already clustered, and any current file NOT in that version's
    * manifest is new debt (appends since, plus DML rewrites, whose
    * layout the rewrite disturbed). The nightly maintenance loop on a
    * 100 TB table pays O(new data since last optimize), never a
    * full-table rewrite — [[optimize]] remains the one-time layout
    * migration. Already-clustered files carry byte-identical by name;
    * content is identical by construction; returns `base` untouched
    * (no commit) when there is no debt. Falls back to a FULL
    * clustering pass when no marker exists yet or the marker's
    * manifest was vacuumed. OCC discipline of [[compact]].
    *
    * File-count note: total files grow with data BY DESIGN (a 100 TB
    * table cannot hold 8 files); what must not accrete is overlapping
    * MINI-layouts from many tiny debt sweeps. `minFileBytes > 0`
    * consolidates: already-clustered files whose recorded size is
    * below it re-cluster WITH the debt (one pass absorbs the runt
    * files of earlier passes), while full-sized clustered files still
    * carry by name — O(debt + runts), never O(table). */
  def optimizeIncremental(spark: SparkSession, dir: String,
      cols: Seq[String], numFiles: Int, bits: Int = 8,
      expectedVersion: Int = -1, minFileBytes: Long = 0L): Int = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    require(cols.nonEmpty, "optimizeIncremental needs cluster columns")
    maintenance(spark, dir, expectedVersion, "optimize") { at =>
      import at.v
      val clusteredSet: Option[Set[String]] =
        at.meta.props.get(OptimizeThroughProp).flatMap(_.toIntOption)
          .filter(t => t >= 1 && t <= v)
          .flatMap { t =>
            try Some(at.chains(t).files.toSet)
            catch { case NonFatal(_) => None } // marker vacuumed: full
          }
      val cur = at.chain.files
      val (untouched0, fresh0) = clusteredSet match {
        case Some(old) => cur.partition(old.contains)
        case None => (Seq.empty[String], cur) // first run: full layout
      }
      // runt consolidation: clustered files below minFileBytes join
      // the rewrite so tiny debt sweeps cannot accrete mini-layouts
      val fresh =
        if (minFileBytes <= 0L) fresh0
        else {
          val sz = at.chain.sizes
          fresh0 ++ untouched0.filter(f =>
            sz.getOrElse(f, Long.MaxValue) < minFileBytes)
        }
      if (fresh.isEmpty) v // debt-free: no commit
      // the marker advances to THIS commit: its file set (carried old
      // layout + the files just clustered) is clustered by definition
      else maybeReanalyze(spark, dir, commitOn(at, "optimize-incremental",
        at.meta.withProps(Map(OptimizeThroughProp -> (v + 1).toString)),
        Some(stageAt(at, Layout.cluster(at.scan(fresh),
          clusterKeys(at, cols), bits, numFiles))), Some(fresh)))
    }
  }

  // ---- bucketed layout commits --------------------------------------
  //
  // [[optimize]] solves the SCAN problem (narrow per-file ranges →
  // stats skipping); a bucketed commit solves the JOIN problem: two
  // 100 TB snapshot tables bucketed on the same key with the same
  // bucket count join bucket-i-against-bucket-i with ZERO Exchange —
  // the shuffle is paid once, at layout time, not on every join. The
  // bucketed files live in ONE commit dir written by Spark's native
  // bucketed writer (bucket ids in the file names — the contract
  // Catalyst needs), the manifest records the spec in a `#bucketspec`
  // header, and [[bucketedTable]] re-exposes the CURRENT version as a
  // catalog-backed bucketed table. The spec is a property of that
  // exact commit: any later append/merge/delete produces a version
  // whose content is no longer the bucketed dir, so the read path
  // refuses (re-run [[optimizeBucketed]] — the maintenance loop, same
  // as re-optimizing after appends).

  final case class BucketSpec(buckets: Int, keys: Seq[String],
    sortCols: Seq[String], rel: String)

  private val BucketSpecPrefix = "#bucketspec\t"

  private def bucketSpecHeader(s: BucketSpec): Seq[String] =
    Seq(BucketSpecPrefix + s.buckets + "\t" +
      s.keys.map(enc).mkString(",") + "\t" +
      s.sortCols.map(enc).mkString(",") + "\t" + enc(s.rel))

  /** The bucket spec of version `v` ITSELF (not chain-resolved: a spec
    * describes exactly the commit that wrote the layout). */
  def bucketSpecOf(spark: SparkSession, dir: String,
      version: Int = -1): Option[BucketSpec] = {
    atOpt(spark, dir, version).flatMap { at =>
      at.chain.lines.collectFirst {
        case l if l.startsWith(BucketSpecPrefix) =>
          val f = l.substring(BucketSpecPrefix.length).split('\t')
          BucketSpec(f(0).toInt,
            f(1).split(',').filter(_.nonEmpty).map(dec).toSeq,
            f(2).split(',').filter(_.nonEmpty).map(dec).toSeq, dec(f(3)))
      }
    }
  }

  /** Rewrite the current version bucketed on `keys` (Spark's native
    * bucketed layout, pre-shuffled by [[Bucketing.preShuffled]]) and
    * commit it as a new content-identical version carrying a
    * `#bucketspec` header. Same OCC discipline as [[optimize]]. The
    * table must not use column mapping (bucket files must carry the
    * queryable names; run after an [[overwrite]]-rooted lineage or
    * before renames). */
  def optimizeBucketed(spark: SparkSession, dir: String, keys: Seq[String],
      buckets: Int, sortCols: Seq[String] = Nil,
      filesPerBucket: Int = 1, expectedVersion: Int = -1): Int = {
    require(keys.nonEmpty, "bucketing needs at least one key column")
    maintenance(spark, dir, expectedVersion, "bucket") { at =>
      import at.{fs, root, table}
      require(at.meta.schema.forall(_.fields.forall(f => physOf(f) == f.name)),
        s"bucketed layout on a column-mapped table is unsupported for $dir " +
          "— restart the lineage (overwrite) before bucketing")
      keys.foreach(k => require(table.columns.contains(k),
        s"bucket key '$k' is not a column: ${table.columns.toSeq}"))
      sortCols.foreach(k => require(table.columns.contains(k),
        s"bucket sort column '$k' is not a column: ${table.columns.toSeq}"))
      val rel = s"$DataDir/${java.util.UUID.randomUUID}"
      val staged = writeStaged(
        Bucketing.preShuffled(table, buckets, keys, filesPerBucket),
        fs, root, rel, at.schema, at.meta.bloom, declaredOf(at.meta.props),
        bucket = Some(CatalogBucketSpec(buckets, keys, sortCols)))
      maybeReanalyze(spark, dir, commitOn(at, "optimize-bucketed", at.meta,
        Some(staged), removed = None,
        extra = bucketSpecHeader(BucketSpec(buckets, keys, sortCols, rel))))
    }
  }

  /** The CURRENT version as a catalog-registered bucketed table named
    * `name` — the zero-Exchange join surface: two tables bucketed on
    * the same keys/count join (or aggregate on the bucket key) with no
    * shuffle, which Catalyst proves FROM the catalog's bucket spec.
    * Refuses unless the current version is exactly a bucketed-layout
    * commit (any later content commit invalidates the layout — re-run
    * [[optimizeBucketed]]); time travel to the bucketed version keeps
    * working after later appends via `version`. */
  def bucketedTable(spark: SparkSession, dir: String, name: String,
      version: Int = -1): DataFrame = {
    require(name.matches("[A-Za-z0-9_.]+"), s"unsafe table name '$name'")
    val at = resolveAt(spark, dir, version)
    import at.{fs, root, v}
    val spec = bucketSpecOf(spark, dir, v).getOrElse(
      throw new IllegalStateException(
        s"version $v of $dir is not a bucketed-layout commit — run " +
          "Snapshots.optimizeBucketed (appends after a bucketed commit " +
          "invalidate its layout)"))
    val schema = at.schema
    val loc = fs.makeQualified(new HPath(root, spec.rel)).toString
    val sorted =
      if (spec.sortCols.isEmpty) ""
      else s" SORTED BY (${spec.sortCols.mkString(", ")})"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(
      s"""CREATE TABLE $name (${StructType(schema.map(stripPhysical)).toDDL})
         |USING parquet
         |CLUSTERED BY (${spec.keys.mkString(", ")})$sorted
         |INTO ${spec.buckets} BUCKETS
         |LOCATION '$loc'""".stripMargin)
    spark.table(name)
  }

  /** Shared content-identical-rewrite commit: stage `transform(base)`
    * and land it as a full manifest of exactly the staged files — the
    * base's pinned schema (column mapping included: the new files write
    * the SAME physical names, so cross-version reads like diff stay
    * era-uniform) and metadata carry. [[maintenance]] entry: no retry,
    * a racing commit throws. */
  private def rewriteCurrent(spark: SparkSession, dir: String,
      transform: At => DataFrame, expectedVersion: Int, op: String): Int =
    maintenance(spark, dir, expectedVersion, "rewrite") { at =>
      commitOn(at, op, at.meta, Some(stageAt(at, transform(at))),
        removed = None)
    }

  /** File counts of a [[merge]]: how many data files the source's key
    * footprint forced into the rewrite vs how many carried over
    * untouched — the observability that makes the copy-on-write cost
    * model auditable (untouched should dominate on a key-clustered
    * table; see [[optimize]]). */
  final case class MergeResult(version: Int, rewrittenFiles: Int,
    untouchedFiles: Int)

  /** Single-key merge sources up to this many distinct keys prune with
    * an exact IN-set; beyond it (or with composite keys) pruning falls
    * back to per-column [min, max] ranges — still sound, just coarser. */
  private val MergeInSetLimit = 1024

  /** MERGE INTO (upsert) — the copy-on-write row update for snapshot
    * tables: table rows whose `keys` tuple matches a source row are
    * replaced by that source row; unmatched source rows are inserted;
    * everything else is untouched. Equivalent to the ANSI
    * `MERGE ... WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    * INSERT *`, committed as ONE new version.
    *
    * The scale property is FILE-LEVEL pruning, same machinery as
    * [[readWhere]]: the source's key footprint (exact IN-set up to
    * [[MergeInSetLimit]] distinct single-column keys, per-column
    * [min, max] ranges otherwise) is turned into a predicate, and only
    * files whose manifest stats cannot DISPROVE a key match are read
    * and rewritten (anti-join on `keys`, then union the source); every
    * other file carries into the new manifest by name, stats lines
    * included — never read, never copied. On a table clustered on the
    * merge key ([[optimize]]), a narrow merge touches a handful of
    * files out of a 100 TB history; pruning is fail-open, so at worst
    * extra files are rewritten, never missed. Rows with a null in any
    * key column never match (SQL equality), on either side.
    *
    * The source must be key-unique (checked — a key matched by two
    * source rows has no deterministic MERGE semantics) and carry
    * exactly the table's columns (any order). Concurrency: with an
    * `expectedVersion` OCC token, a lost CAS race throws — the caller
    * pinned a version and gets told its inspection is stale. UNPINNED
    * (the default), a lost race first REBASES the staged result when
    * every interloper is provably invisible to it, else RETRIES the
    * whole merge against the new current version ([[retryOnRace]]:
    * backoff with jitter, giving up after 20 straight losses): the
    * merge is a function of (table, source), so re-running it on top
    * of the racing commit is exactly serializing after it — nothing of
    * either writer is dropped. A content-identical rewrite cannot say
    * the same, which is why [[compact]]/[[optimize]] always throw.
    * Merging into an empty table is the plain first append. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], expectedVersion: Int = -1): MergeResult =
    mergeCow(spark, dir, source, keys, expectedVersion, "merge")

  /** [[merge]] + [[deleteMatching]] as ONE atomic commit — the general
    * SQL MERGE's executor: table rows whose `keys` tuple appears in
    * `tombstones` are deleted, rows matching a `source` row are
    * replaced by it, unmatched source rows insert, everything else
    * carries untouched. The file-level footprint covers BOTH key sets
    * (a narrow mixed merge still touches only its keys' files), and
    * the whole mutation is a single CAS — no crash window between a
    * delete half and an upsert half. A key in both frames resolves as
    * the upsert (the anti-join removes it once; the source re-adds
    * it) — the SQL translation never produces that overlap
    * (first-match-wins classification). */
  def mergeMixed(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], tombstones: DataFrame,
      expectedVersion: Int = -1): MergeResult =
    mergeCow(spark, dir, source, keys, expectedVersion, "mergeMixed",
      tombstones = Some(tombstones))

  /** APPLY CHANGES INTO — net a CDC batch to its latest state per key
    * and apply it as ONE atomic commit (the DLT/Flink "upsert
    * materialize" shape). `changes` carries the target's columns plus
    * `opCol` (`insert` | `update_postimage` | `delete`;
    * `update_preimage` rows are dropped — they are the OLD image) and
    * `sequenceCol` (any orderable type — a change-feed consumer
    * passes `_commit_version`). Per key, the row with the highest
    * sequence wins; at EQUAL sequence an insert/postimage outranks a
    * delete (a commit that retires and re-adds a key nets to the row
    * existing — exactly the change feed's delete+insert decomposition
    * of an upsert). The winners split into upserts and tombstones and
    * land through [[mergeMixed]]'s single-CAS path: a narrow CDC
    * batch against a key-clustered 100 TB table touches its keys'
    * files, never the table, and there is no crash window between the
    * delete half and the upsert half. Ties BEYOND (sequence, op) are
    * the feed's responsibility (DLT contract: the sequence must order
    * each key's changes totally). NULL key tuples refuse — a keyed
    * CDC feed that emits one is corrupt, and dropping it silently
    * would diverge the replica. `propsDelta` lands in the same commit
    * ([[replicate]] records its high-water mark through it). */
  def applyChanges(spark: SparkSession, dir: String, changes: DataFrame,
      keys: Seq[String], sequenceCol: String,
      opCol: String = "_change_type",
      expectedVersion: Int = -1,
      propsDelta: Map[String, String] = Map.empty): MergeResult = {
    require(keys.nonEmpty, "applyChanges needs at least one key column")
    (keys :+ sequenceCol :+ opCol).foreach(c =>
      require(changes.columns.exists(_.equalsIgnoreCase(c)),
        s"applyChanges column '$c' is not a column: " +
          changes.columns.toSeq.mkString("[", ", ", "]")))
    // pin the batch ONCE: a change-feed input is expensive to compute
    // (multi-version scans, diff decompositions) and everything below
    // — validation, netting, the merge's own probes and staging —
    // re-reads it; without the pin each action re-runs the feed.
    // NULL-SAFE filter: a NULL op must reach the unknown-op audit
    // below, not silently vanish (null-unsafe =!= drops it)
    val live = changes.filter(!(col(opCol) <=> lit("update_preimage")))
      .persist()
    try {
      // one full pass validates op vocabulary and keys together (and
      // warms the cache for the netting window that follows)
      val audit = live.agg(
        count(when(col(opCol).isNull ||
          !col(opCol).isin("insert", "update_postimage",
            "delete"), 1)).as("bad_ops"),
        count(when(keys.map(col(_).isNull).reduce(_ || _), 1))
          .as("null_keys"),
        count(when(col(sequenceCol).isNull, 1)).as("null_seq"),
        count(lit(1)).as("total")).head()
      require(audit.getLong(0) == 0L,
        s"applyChanges: ${audit.getLong(0)} rows carry an unknown " +
          s"$opCol value — expected insert | update_postimage | " +
          "update_preimage | delete")
      require(audit.getLong(1) == 0L,
        s"applyChanges: ${audit.getLong(1)} NULL key tuples on $keys " +
          "in the change batch — a keyed CDC feed must not emit " +
          "NULL keys")
      require(audit.getLong(2) == 0L,
        s"applyChanges: ${audit.getLong(2)} rows carry a NULL " +
          s"$sequenceCol — netting orders by it, so a NULL row would " +
          "win or lose arbitrarily; stamp every change with its " +
          "commit sequence")
      if (audit.getLong(3) == 0L) {
        // EMPTY batch (a maintenance-only feed window): nothing to
        // merge — but an explicit propsDelta still lands, metadata-
        // only ([[replicate]]'s mark must advance or the next run
        // re-walks the same versions)
        if (expectedVersion < 0 && currentVersion(spark, dir).isEmpty) {
          // empty batch into NO table: bootstrap an empty table with
          // the batch's data shape (and the propsDelta — replicate's
          // first sync of a created-but-empty source lands the mark
          // here), instead of erroring before the mark can record
          val dataSchema = StructType(changes.schema.fields.filterNot(
            f => f.name.equalsIgnoreCase(opCol) ||
              f.name.equalsIgnoreCase(sequenceCol)))
          return MergeResult(
            createTable(spark, dir, dataSchema, properties = propsDelta),
            0, 0)
        }
        return MergeResult(
          dmlOn(spark, dir, expectedVersion, "apply changes to") { at =>
            if (propsDelta.isEmpty) at.v
            else commitOn(at, "apply-changes-mark",
              at.meta.withProps(propsDelta))
          }, 0, 0)
      }
      // a tie at equal (key tuple, sequence, op) would net below by
      // an ARBITRARY row_number pick, and the netted frame is then
      // promised unique to the merge (keysProvedUnique = true),
      // skipping its duplicate-key refusal — so a duplicate-keyed
      // source would silently keep one row per key and drop the rest.
      // replicate's first sync manufactures exactly this tie (every
      // source row stamped with one version and op = insert), and a
      // single commit appending duplicate keys does the same in an
      // incremental window. Refuse loudly, matching the plain merge
      // path's contract. (Different ops at one sequence — a delete
      // racing an update in one commit — stay allowed: the netting
      // order below resolves them deterministically.)
      val tie = live
        .groupBy((keys.map(col) :+ col(sequenceCol) :+ col(opCol)): _*)
        .agg(count(lit(1)).as("__ac_n")).filter(col("__ac_n") > 1)
        .limit(1).collect()
      require(tie.isEmpty,
        s"applyChanges: multiple change rows share one " +
          s"(${keys.mkString(", ")}, $sequenceCol, $opCol) tuple — " +
          s"e.g. ${tie.headOption.getOrElse("")} — netting would keep " +
          "one arbitrarily and silently drop the rest; the source's " +
          s"keys (${keys.mkString(", ")}) are not unique, or the feed " +
          "carries duplicates")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(col(sequenceCol).desc,
          when(col(opCol) === "delete", lit(0)).otherwise(lit(1)).desc)
      val latest = live
        .withColumn("__ac_rn", row_number().over(w))
        .filter(col("__ac_rn") === 1).drop("__ac_rn")
      val dataCols = changes.columns.toSeq.filterNot(c =>
        c.equalsIgnoreCase(opCol) || c.equalsIgnoreCase(sequenceCol))
      val upserts = latest.filter(col(opCol) =!= "delete")
        .select(dataCols.map(col): _*)
      val tombstones = latest.filter(col(opCol) === "delete")
        .select(keys.map(col): _*)
      mergeCow(spark, dir, upserts, keys, expectedVersion, "applyChanges",
        tombstones = Some(tombstones), propsDelta = propsDelta,
        keysProvedUnique = true)
    } finally live.unpersist()
  }

  /** What a [[replicate]] run did. `fromVersion == toVersion` means
    * the replica was already current (NO commit happened). */
  final case class ReplicateResult(targetVersion: Int, fromVersion: Int,
    toVersion: Int)

  /** First `bytes` of SHA-1(`s`), lowercase hex — the compact stable
    * identity used by the replicate mark key, the replica consumer-
    * floor id, and the ingest-marker names. */
  private def shortHash(s: String, bytes: Int): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).take(bytes)
      .map("%02x".format(_)).mkString

  private def replicateMarkKey(spark: SparkSession,
      srcDir: String): String = {
    // key on the QUALIFIED source path — a SAFETY property: a mark
    // can never be mistaken for another source's, and a relative-vs-
    // absolute respelling of the same dir resolves to the same key.
    // (This does NOT enable multi-source fan-in: a second source's
    // first sync into a populated target hits the lineage guard
    // below by design — a replica has exactly one upstream.)
    val (_, root) = fsFor(spark, srcDir)
    s"graft.replicate.${shortHash(root.toString, 6)}"
  }

  /** Mirror the source's in-window schema DDL onto the replica BEFORE
    * the data applies, keyed on PHYSICAL column identity — the one
    * thing that is stable across renames (`#schema` carries
    * `physOf`): a physical id that left the source schema is a DROP,
    * one that changed its logical name is a RENAME (two-phase through
    * reserved temp names, so swap chains a→b/b→a cannot collide
    * mid-flight), a new id is an ADD (carrying the source's
    * `EXISTS_DEFAULT` so pre-evolution replica rows read exactly what
    * pre-evolution source rows read), and a same-id type change is a
    * WIDEN. Every step is re-entrant: a crash between the alignment
    * commits and the data apply re-runs into skips (done renames,
    * existing adds) — alignment converges to the source's shape, then
    * the apply sees equal column sets and needs no mergeSchema. */
  private def alignReplicaSchema(spark: SparkSession, srcDir: String,
      appliedV: Int, srcV: Int, dstDir: String): Unit = {
    val src = chainsFor(spark, srcDir)
    val before = src(appliedV).meta.schema.getOrElse(return)
    val after = src(srcV).meta.schema.getOrElse(return)
    val beforeByPhys = before.fields.map(f => physOf(f) -> f).toMap
    val afterByPhys = after.fields.map(f => physOf(f) -> f).toMap
    if (beforeByPhys.keySet == afterByPhys.keySet &&
      before.fields.map(f => (f.name, f.dataType)).sameElements(
        after.fields.map(f => (f.name, f.dataType)))) return
    // the replica schema is re-read only after a DDL step commits —
    // per-column probes on a wide table must not each cost a version
    // listing + manifest parse
    var dstCache: Option[StructType] = None
    def dstSchema(): StructType = dstCache.getOrElse {
      val sc = resolveAt(spark, dstDir, -1).schema
      dstCache = Some(sc)
      sc
    }
    def ddl[A](body: => A): A = { val r = body; dstCache = None; r }
    def dstHas(n: String): Boolean =
      dstSchema().fields.exists(_.name.equalsIgnoreCase(n))
    // 1. drops: physical identities that left the source
    beforeByPhys.foreach { case (p, f) =>
      if (!afterByPhys.contains(p) && dstHas(f.name))
        ddl(dropColumn(spark, dstDir, f.name))
    }
    // 2. renames, by physical identity, two phases via temp names
    val renames = afterByPhys.toSeq.collect {
      case (p, fa) if beforeByPhys.get(p).exists(fb =>
        !fb.name.equalsIgnoreCase(fa.name)) =>
        (p, beforeByPhys(p).name, fa.name)
    }
    // SHA-1 prefix, not String.hashCode: two renamed columns whose
    // 32-bit hashCodes collide would share one temp name and the
    // a→tmp/tmp→b phases would silently collapse them into one column
    def tmpName(p: String): String = "__replalign_" + shortHash(p, 8)
    renames.foreach { case (p, o, _) =>
      if (dstHas(o)) ddl(renameColumn(spark, dstDir, o, tmpName(p)))
    }
    renames.foreach { case (p, _, n) =>
      if (dstHas(tmpName(p)))
        ddl(renameColumn(spark, dstDir, tmpName(p), n))
    }
    // 3. adds: new physical identities, with the source's pinned
    //    default so old replica rows read what old source rows read
    afterByPhys.foreach { case (p, fa) =>
      if (!beforeByPhys.contains(p) && !dstHas(fa.name))
        ddl(addColumn(spark, dstDir, fa.name, fa.dataType,
          if (fa.metadata.contains("EXISTS_DEFAULT"))
            Some(fa.metadata.getString("EXISTS_DEFAULT")) else None))
    }
    // 4. widenings: same identity, evolved type (refuses non-widening
    //    drift loudly, same contract as the source's own DDL)
    afterByPhys.foreach { case (p, fa) =>
      beforeByPhys.get(p).foreach { fb =>
        if (fb.dataType != fa.dataType &&
          dstSchema().fields.exists(f =>
            f.name.equalsIgnoreCase(fa.name) &&
              f.dataType != fa.dataType))
          ddl(widenColumn(spark, dstDir, fa.name, fa.dataType))
      }
    }
  }

  /** Project a change-feed window onto the source's POST-window shape
    * for the replica apply. Schema DDL inside the window means one
    * logical column's values travel under DIFFERENT feed columns
    * depending on the row's commit era — the feed unions by name, so
    * a row committed while physical column `p` was named `x` carries
    * its value under `x` and NULL-fill under every other of p's
    * names. Reads are therefore built PER ERA from p's name history
    * across the window's pinned schemas, version-bounded at each DDL
    * instant: rename chains (including INTERMEDIATE names — a→x→b —
    * and re-owned names — a→b, c→a) read each era's own column
    * exactly for that era's rows; eras before an in-window ADD read
    * the pinned EXISTS_DEFAULT (an explicit post-add NULL stays
    * NULL); types cast to the final shape across in-window
    * widenings. Windows with no schema drift — the overwhelmingly
    * common case — skip the version walk entirely. */
  private def projectFeedTo(spark: SparkSession, srcDir: String,
      appliedV: Int, srcV: Int, feed: DataFrame): DataFrame = {
    val at = resolveAt(spark, srcDir, srcV)
    val after = at.schema
    val beforeByPhys = at.chains(appliedV).meta.schema
      .map(_.fields.map(f => physOf(f) -> f).toMap)
      .getOrElse(after.fields.map(f => physOf(f) -> f).toMap)
    val feedCols = feed.columns.toSet
    val noDrift = beforeByPhys.size == after.fields.length &&
      after.fields.forall(f =>
        beforeByPhys.get(physOf(f)).exists(_.name == f.name))
    // the window's pinned schemas, read ONCE for all columns (only
    // materialized under drift)
    lazy val winSchemas: Seq[(Int, Option[StructType])] =
      versions(spark, srcDir).filter(v => v > appliedV && v <= srcV)
        .map(v => v -> at.chains(v).meta.schema)
    val projected = after.fields.toSeq.map { f =>
      val p = physOf(f)
      def absentRead: Column =
        if (f.metadata.contains("EXISTS_DEFAULT"))
          expr(f.metadata.getString("EXISTS_DEFAULT"))
        else lit(null)
      def readOf(nameOpt: Option[String]): Column = nameOpt match {
        case Some(n) if feedCols.contains(n) => col(n)
        // the era's rows would carry this column; its absence from
        // the feed union means the era contributed no data rows, so
        // this read is never selected — a placeholder suffices
        case Some(_) => lit(null)
        case None => absentRead // rows predate the column: the add
        // fill — what pre-evolution rows read on the source itself
      }
      val base: Column =
        if (noDrift) {
          if (feedCols.contains(f.name)) col(f.name)
          else missingColumnReads(f) // zero data rows in the window
        } else {
          // p's name history across the window, grouped into eras of
          // one stable read; a feed row's _commit_version selects
          // exactly its own era's read
          val names: Seq[(Int, Option[String])] = winSchemas.map {
            case (v, sc) => v -> sc.flatMap(
              _.fields.find(f2 => physOf(f2) == p).map(_.name))
          }
          if (names.isEmpty) readOf(Some(f.name))
          else {
            val runs = names
              .foldLeft(List.empty[(Int, Int, Option[String])]) {
                case ((s0, _, n0) :: tail, (v, nm)) if n0 == nm =>
                  (s0, v, n0) :: tail
                case (acc, (v, nm)) => (v, v, nm) :: acc
              }.reverse
            if (runs.size == 1) readOf(runs.head._3)
            else runs.init.foldRight(readOf(runs.last._3)) {
              case ((_, e, nm), acc) =>
                when(col("_commit_version") <= lit(e), readOf(nm))
                  .otherwise(acc)
            }
          }
        }
      base.cast(f.dataType).as(f.name)
    }
    feed.select(projected ++
      Seq(col("_change_type"), col("_commit_version")): _*)
  }

  /** Incremental table replication: apply everything that happened to
    * `srcDir` since the last replicate into `dstDir`, exactly once.
    * The applied-through source version rides the target's table
    * properties IN the apply commit (no crash window between data and
    * mark — a replayed run is a no-op, never a double-apply); the
    * first run materializes the source's current content wholesale.
    * Incremental runs read the source CHANGE FEED `(applied,
    * current]` — O(changes since), never O(table) — and net it via
    * [[applyChanges]] keyed on `keys` with `_commit_version` as the
    * sequence. Maintenance commits on the source (optimize/compact)
    * contribute zero feed rows, so routine upkeep replicates for
    * free. Each run records a CONSUMER FLOOR on the source at the
    * applied version (`replica-<target-hash>` under `_consumers/`),
    * so the source's vacuum/maintain widen retention for a lagging
    * replica instead of dropping its resume point — a retired replica
    * is cleared with [[clearConsumerFloor]], like a retired stream.
    * REFUSES when the source was force-vacuumed past the applied mark
    * anyway (the feed cannot replay the gap) — re-sync by replicating
    * into a fresh target, a deliberate act; and refuses a target
    * whose mark says it was never replicated from this source but
    * already has content (it would silently merge two lineages). */
  def replicate(spark: SparkSession, srcDir: String, dstDir: String,
      keys: Seq[String]): ReplicateResult = {
    require(keys.nonEmpty, "replicate needs at least one key column")
    val srcV = currentVersion(spark, srcDir).getOrElse(
      throw new java.util.NoSuchElementException(
        s"replicate: no committed version under $srcDir"))
    val markKey = replicateMarkKey(spark, srcDir)
    val dstV = currentVersion(spark, dstDir)
    val applied = dstV.flatMap(v =>
      tableProperties(spark, dstDir, v).get(markKey)).map(_.toInt)
    // the replica is a CONSUMER of the source's history: its next run
    // reads the feed from the applied version, so that version must
    // stay retained. Record it as a consumer floor (the streaming
    // discipline) so vacuum(clipToConsumers)/maintain on the source
    // WIDEN retention for a lagging replica instead of vacuuming its
    // resume point out from under it; a retired replica is cleared
    // with clearConsumerFloor, same as a retired stream.
    def recordFloor(appliedV: Int): Unit = {
      val (_, dstRoot) = fsFor(spark, dstDir)
      val id = "replica-" + shortHash(dstRoot.toString, 6)
      recordConsumerFloor(spark, srcDir, id, appliedV,
        note = s"replicate -> $dstDir")
    }
    (applied, dstV) match {
      case (None, Some(_)) =>
        throw new IllegalStateException(
          s"replicate: $dstDir already has content but no applied " +
            s"mark for source $srcDir — refusing to merge two " +
            "lineages; replicate into a fresh directory")
      case (Some(a), _) if a > srcV =>
        throw new IllegalStateException(
          s"replicate: $dstDir claims source version $a but $srcDir " +
            s"is at $srcV — the source was RESTOREd or recreated " +
            "past the mark; replicate into a fresh directory")
      case (Some(a), _) if a == srcV =>
        recordFloor(srcV)
        ReplicateResult(dstV.get, a, srcV) // already current: no commit
      case (Some(a), _) =>
        // the gap check runs FIRST: alignment and the feed both read
        // the applied version's manifest, and a force-vacuumed mark
        // must surface as the documented refusal, not an IO error
        require(versions(spark, srcDir).contains(a),
          s"replicate: applied source version $a of $srcDir is not " +
            "retained (force-vacuumed past the mark?) — the feed " +
            "cannot replay the gap; replicate into a fresh directory")
        // the replica follows the source's SCHEMA too: in-window DDL
        // (drop/rename/add/widen) mirrors onto the replica before the
        // data lands, so the apply sees equal column sets — a replica
        // that refused the source's first ADD COLUMN would strand
        // every downstream of a normally-evolving table
        alignReplicaSchema(spark, srcDir, a, srcV, dstDir)
        // ONE evaluation of the multi-version feed: applyChanges pins
        // it, audits it in one pass (which also detects the empty
        // maintenance-only window — then only the mark commits,
        // metadata-only), and nets it from the same cache
        val feed = changeFeed(spark, srcDir, a, srcV)
        val r = applyChanges(spark, dstDir,
          projectFeedTo(spark, srcDir, a, srcV, feed), keys,
          sequenceCol = "_commit_version",
          propsDelta = Map(markKey -> srcV.toString))
        recordFloor(srcV)
        ReplicateResult(r.version, a, srcV)
      case (None, None) =>
        // first sync: the source's net content, keyed like the feed
        // will be, with the mark in the same commit. The source's
        // LAYOUT declarations ride along: a replica without the
        // source's cluster/stats declarations would take every later
        // key-pruned apply unclustered — the fast path replicate
        // exists for. (They land in the same commit; this first
        // sync's own files lay out on the next optimize/maintain.)
        val declarations = tableProperties(spark, srcDir)
          .filter { case (k, _) =>
            k == "cluster.columns" || k == "stats.columns" }
        val r = applyChanges(spark, dstDir,
          read(spark, srcDir, srcV)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(srcV)),
          keys, sequenceCol = "_commit_version",
          propsDelta = declarations + (markKey -> srcV.toString))
        recordFloor(srcV)
        ReplicateResult(r.version, 0, srcV)
    }
  }

  /** [[retryOnRace]] with the version PINNED per attempt: `body`
    * receives the freshly resolved current version and passes it as
    * its commit's `expectedVersion` — a lost CAS then recomputes
    * everything the body derived (classification joins, tombstone
    * sets) against the new version instead of committing stale
    * inspections. Shared by the SQL commands that inspect-then-commit. */
  private[graft] def retryPinned[A](spark: SparkSession, dir: String,
      what: String)(body: Int => A): A = retryOnRace(what) {
    body(currentVersion(spark, dir).getOrElse(
      throw new java.util.NoSuchElementException(
        s"$what: no committed version under $dir")))
  }

  /** Re-run `body` (which re-resolves the current version itself) on a
    * lost CAS race — the unpinned-DML serialization loop, with
    * exponential backoff + jitter between attempts.
    *
    * Fairness caveat (the OCC tradeoff every optimistic lakehouse
    * format shares): each retry RECOMPUTES against the new tip, so a
    * writer whose attempt takes longer than its competitors'
    * inter-commit gap can lose repeatedly — under sustained heavy
    * write contention a slow merge among fast appenders waits for a
    * quiet window (the backoff makes one likely once competitors
    * drain, and the jitter de-synchronizes symmetric contenders).
    * After 20 straight losses the documented
    * ConcurrentModificationException surfaces for the operator —
    * same contract as Delta's ConcurrentAppendException. This is the
    * recompute, not the CAS loop: a lost CAS first goes through
    * [[commitWithRebase]], which re-CASes the already-staged result on
    * the new tip whenever the verb's rebase rule holds (a DML footprint
    * the interlopers cannot see, an ingest batch the tip still admits,
    * any overwrite), so under append contention this loop rarely runs
    * twice. */
  private def retryOnRace[A](what: String)(body: => A): A = {
    var attempts = 0
    while (true) {
      try return body
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempts += 1
          if (attempts >= 20) throw e
          val cap = math.min(2000L, 50L << math.min(attempts, 5))
          Thread.sleep(java.util.concurrent.ThreadLocalRandom
            .current().nextLong(cap / 2, cap + 1))
      }
    }
    throw new IllegalStateException(s"unreachable: $what")
  }

  /** Can a DML result staged against `from` re-CAS unchanged on
    * `tip`? TRUE only when every interloper commit in `(from, tip]`
    * is PROVABLY invisible to the mutation:
    *
    *   1. adds-only — no interloper removed a file or changed row
    *      visibility (no DV drift), so every file the DML touched is
    *      still live and byte-identical;
    *   2. zero metadata drift — pinned schema, dropped tombstones,
    *      bloom config, CHECK constraints, and table properties
    *      (identity marks included) all equal, so the staged headers
    *      and validations still hold verbatim;
    *   3. every interloper-ADDED file is DISPROVEN by the mutation's
    *      key footprint under the standard stats-prune semantics —
    *      no added row can match a mutated key, so the serial result
    *      at `tip` equals the staged one. A `None` footprint means
    *      the mutation names no non-null key (NULL keys never
    *      equi-match), which makes any add invisible to it.
    *
    * Bound-sound and fail-closed throughout: anything unprovable
    * (missing stats, unrecognized interloper shape, ranges > 16
    * versions) returns false and the caller falls back to the full
    * recompute. Cost when it applies: O(range) manifest reads + one
    * local prune evaluation — no data touched, no job run. */
  private def rebaseSafe(at: At, from: Int, tip: Int,
      footprint: Option[Column]): Boolean = {
    if (tip - from > 16) return false
    val c = at.chains
    val range = versionsFs(c.fs, c.root).filter(x => x > from && x <= tip)
    if (range.size != tip - from) return false // vacuumed hole mid-range
    if (c(tip).meta != c(from).meta) return false
    if (c(tip).dv != c(from).dv) return false
    var prev = c(from).files.toSet
    val added = Seq.newBuilder[String]
    range.foreach { iv =>
      val cur = c(iv).files.toSet
      if (!prev.subsetOf(cur)) return false // something was removed
      added ++= (cur -- prev)
      prev = cur
    }
    val newFiles = added.result()
    newFiles.isEmpty || (footprint match {
      case None => true
      case Some(pred) =>
        val (mayMatch, _) = pruneAt(at.at(tip), pred)
        val kept = mayMatch.toSet
        newFiles.forall(f => !kept(f))
    })
  }

  /** The one loop that retries a lost CAS: every snapshot commit of a
    * row or metadata change runs through it. `attempt(base)` is one CAS
    * at `base + 1` with headers derived from `base`; on a lost race the
    * verb's `rebase(base, tip)` rule says whether the result staged on
    * `base` still holds on the tip, and the only difference between
    * verbs is that rule:
    *
    *   - DML ([[applyCow]]): unpinned, and [[rebaseSafe]] proves every
    *     interloper invisible to the mutation's footprint;
    *   - ingest ([[commitIngest]]): the tip still admits the staged
    *     batch (its constraints and identity marks hold);
    *   - overwrite ([[commitIngest]], fresh): always — a new lineage,
    *     the last writer wins;
    *   - [[commitOn]] (metadata DDL, maintenance, deletion-vector
    *     applies) and a merge into an empty table ([[commitIngest]],
    *     `rebase = false`): never.
    *
    * When the rule holds the base moves to the tip and the next attempt
    * is one manifest write; otherwise, when no winner is visible (a
    * store that refused the publish), or after 8 rebases, the
    * ConcurrentModificationException sends the caller to the full
    * recompute ([[retryOnRace]]) or surfaces it. Returns the committed
    * version.
    *
    * This is the OCC fairness fix for the starvation mode
    * [[retryOnRace]] documents: a slow recompute among fast appenders
    * used to lose EVERY race (each attempt outlasted the competitors'
    * inter-commit gap); with rebase the loser's next attempt is one
    * manifest write, which fits any gap. */
  private def commitWithRebase(spark: SparkSession, dir: String, from: Int,
      what: String, rebase: (Int, Int) => Boolean)(
      attempt: Int => Boolean): Int = {
    var base = from
    var rebases = 0
    while (true) {
      if (attempt(base)) return base + 1
      rebases += 1
      val tip = currentVersion(spark, dir).getOrElse(base)
      if (rebases > 8 || tip <= base || !rebase(base, tip))
        throw new java.util.ConcurrentModificationException(
          s"$what on $dir@v$base lost the commit race — a writer landed " +
            s"v${base + 1} first; re-read and re-run")
      base = tip
    }
    throw new IllegalStateException(s"unreachable: $what")
  }

  // ---- the DML core ---------------------------------------------------
  //
  // Every row-changing verb runs entry → classify → apply:
  //   - [[dml]] resolves the base version and owns the retry dispatch;
  //   - one classify step per kind names the files the change may
  //     touch vs carries by name, the matched-row test and (update,
  //     merge) the new row images: the stats prune plus [[isTrue]] for
  //     predicates ([[classifyDelete]], [[assign]] for updates),
  //     [[classifyKeys]] for key frames, [[classifyMerge]] for merges;
  //   - [[applyCow]] commits a staged rewrite ([[stageAt]]) with
  //     rebase, [[applyDv]] records the matched rows' positions as
  //     deletion vectors. A copy-on-write verb and its `*Light` twin
  //     share everything but the apply.

  /** One call's base: version `v` of `dir`, its chain resolved through
    * the call's [[Chains]]. `unpinned` when the caller gave no
    * `expectedVersion` — the only case a lost race may rebase
    * ([[commitWithRebase]]) or retry ([[retryOnRace]]). */
  private final case class At(spark: SparkSession, dir: String, v: Int,
      unpinned: Boolean, chains: Chains) {
    val fs: FileSystem = chains.fs
    val root: HPath = chains.root
    lazy val chain: Chain = chains(v)
    def meta: Meta = chain.meta
    lazy val table: DataFrame = {
      require(chain.files.nonEmpty, s"manifest v$v of $dir lists no files")
      scan(chain.files)
    }
    def pinned: Option[StructType] = meta.schema
    /** The pinned schema, else the footer-inferred one (tables written
      * before schema pinning). */
    lazy val schema: StructType = pinned.getOrElse(allNullable(table.schema))
    /** The schema [[table]] surfaces: the pinned one with every field
      * nullable (file reads are), the scan's own before pinning. */
    lazy val readSchema: StructType = pinned.fold(table.schema)(allNullable)
    /** `files` under this version's pinned schema (files predating an
      * added column yield NULL there; pre-pinning manifests fall back to
      * footer inference), renamed columns read under their PHYSICAL
      * file name and surfaced under the logical one (a Project over the
      * scan — filters and column pruning push through it), and version
      * `dvV`'s deletion vectors anti-joined out — [[diff]] reads a
      * removed file under the newer schema but its OWN version's
      * vectors. */
    def scan(files: Seq[String], dvV: Int = v): DataFrame =
      scanWithMeta(this, files, dvV).drop(GfCol, GposCol)
    /** Version `w` of the same table, through the same [[Chains]]. */
    def at(w: Int): At = copy(v = w)
  }

  /** The one entry of the snapshot writers: run `body` on the base —
    * the pinned `expectedVersion`, else the current version (None:
    * nothing committed yet). Pinned, a lost race throws: the caller
    * pinned a version and gets told its inspection is stale. Unpinned,
    * [[retryOnRace]] re-runs `body` on the new tip — the change is a
    * function of (table, inputs), so re-running it on top of the racing
    * commit is exactly serializing after it. `retry = false` (the
    * [[maintenance]] verbs) throws unpinned too. */
  private def dml[A](spark: SparkSession, dir: String, expectedVersion: Int,
      verb: String, retry: Boolean = true)(body: Option[At] => A): A = {
    def attempt(): A = body(atOpt(spark, dir, expectedVersion))
    if (expectedVersion >= 0 || !retry) attempt()
    else retryOnRace(s"$verb on $dir")(attempt())
  }

  /** [[dml]] for the verbs that need a committed base. */
  private def dmlOn[A](spark: SparkSession, dir: String, expectedVersion: Int,
      verb: String, retry: Boolean = true)(body: At => A): A =
    dml(spark, dir, expectedVersion, verb, retry)(_.map(body).getOrElse(
      throw new java.util.NoSuchElementException(s"nothing to $verb in $dir")))

  /** The maintenance entry ([[compact]], the optimize family,
    * [[foldDeletionVectors]]): [[dmlOn]] WITHOUT retry. A
    * content-identical rewrite recomputed on a moved base would be
    * correct, but it is a coordination decision the caller makes —
    * a lost race surfaces as ConcurrentModificationException. */
  private def maintenance[A](spark: SparkSession, dir: String,
      expectedVersion: Int, verb: String)(body: At => A): A =
    dmlOn(spark, dir, expectedVersion, verb, retry = false)(body)

  /** The metadata-DDL entry: on the current version (a lost race
    * retries, [[dml]]), `change` derives the new metadata from the
    * base's ([[At.meta]]) and [[commitOn]] lands it under `op` with
    * the base's exact file list. */
  private def alterMeta(spark: SparkSession, dir: String, op: String)(
      change: At => Meta): Int =
    dmlOn(spark, dir, -1, "alter")(at => commitOn(at, op, change(at)))

  /** The one commit tail of the non-DML writers: version `at.v + 1` as
    * `meta` (the base's, changed or not) plus `staged`'s files, and
    * `extra` lines after the op header. `removed` names the base files
    * the commit drops — a delta or checkpoint through [[casChange]],
    * with `newDv` the vectors it (re)writes — or, `None`, every base
    * file: a FULL manifest of exactly the staged files. The never-rebase
    * case of [[commitWithRebase]]: a lost race throws
    * ConcurrentModificationException, which the retrying entries
    * ([[dml]]) re-run and [[maintenance]] surfaces. */
  private def commitOn(at: At, op: String, meta: Meta,
      staged: Option[Staged] = None, removed: Option[Seq[String]] = Some(Nil),
      newDv: Map[String, (String, Long)] = Map.empty,
      extra: Seq[String] = Nil): Int = {
    import at.{fs, root, v}
    val schema = meta.schema.getOrElse(at.schema)
    val header = meta.header ++ opHeader(op) ++ extra
    val files = staged.fold(Seq.empty[String])(_.files)
    val stats = staged.fold(Seq.empty[String])(_.stats)
    commitWithRebase(at.spark, at.dir, v, op, (_, _) => false) { _ =>
      removed match {
        case Some(gone) =>
          casChange(at.chains, v, schema, header, gone, files, stats, newDv)
        case None =>
          casManifest(fs, root, v + 1, files,
            schemaHeader(schema) +: (header ++ stats))
      }
    }
  }

  /** Column `name` of `at`'s schema, matched case-insensitively. */
  private def fieldOf(at: At, name: String): StructField =
    at.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(
        s"no column '$name' in ${at.dir}: ${at.schema.fieldNames.toSeq}"))

  /** Clustering keys spelled as in `at`'s schema — [[keyCols]]'s
    * case-insensitive rule, so a declared `cluster.columns` of "K,V"
    * clusters a `k`/`v` table like its appends do. */
  private def clusterKeys(at: At, cols: Seq[String]): Seq[String] =
    keyCols("cluster", at.schema.fieldNames.toSeq, cols)

  /** The matched-row test of every predicate verb: rows where `pred` IS
    * TRUE (SQL DELETE/UPDATE semantics — a NULL predicate never
    * matches). */
  private def isTrue(pred: Column): Column = coalesce(pred, lit(false))

  /** Stage `df` as a commit on a base with metadata `meta`: the base's
    * column mapping (matched case-insensitively; columns new to the
    * table stage under their own name), bloom config and declared
    * stats columns. */
  private def stageOn(fs: FileSystem, root: HPath, meta: Meta,
      df: DataFrame): Staged = {
    val byLower = meta.schema.fold(Map.empty[String, StructField])(
      _.fields.map(f => f.name.toLowerCase -> f).toMap)
    stage(df, fs, root, declaredOf(meta.props), df.columns.flatMap(c =>
      byLower.get(c.toLowerCase).map(f => c -> physOf(f))).toMap,
      meta.bloom)
  }

  private def stageAt(at: At, df: DataFrame): Staged =
    stageOn(at.fs, at.root, at.meta, df)

  /** Copy-on-write apply: CAS `at` minus `removed` plus `staged` (the
    * touched files' surviving rows and the new ones) through
    * [[commitWithRebase]]; returns (committed version, files carried by
    * name). The removed files become `#remove` lines and the untouched
    * carry IMPLICITLY through the base — a narrow change to a
    * million-file table writes O(touched) manifest lines. `schema`
    * overrides the pinned schema (an evolving merge); `delta` lands in
    * the table properties, `extra` after the op header; `guard` runs
    * against every base a CAS is tried on. */
  private def applyCow(at: At, op: String, footprint: Option[Column],
      removed: Seq[String], untouched: Seq[String], staged: Staged,
      schema: Option[StructType] = None,
      delta: Map[String, String] = Map.empty,
      extra: Seq[String] = Nil,
      guard: Option[Int] => Unit = _ => ()): (Int, Int) = {
    val pinned = schema.getOrElse(at.schema)
    // a rebase lands only where [[rebaseSafe]] proved the tip's metadata
    // equal to the base's, so the base's header holds on every attempt;
    // a pin is the caller's promise that its own inspections still
    // describe the table, which rebaseSafe cannot prove, so only an
    // unpinned attempt rebases
    val header = at.meta.withProps(delta).header ++ opHeader(op) ++ extra
    val committed = commitWithRebase(at.spark, at.dir, at.v, op,
        (b, tip) => at.unpinned && rebaseSafe(at, b, tip, footprint)) { b =>
      guard(Some(b))
      casChange(at.chains, b, pinned, header, removed, staged.files,
        staged.stats)
    }
    (committed, untouchedAfter(at, committed, removed, untouched))
  }

  /** What [[applyDv]] did: the version after it (the base when nothing
    * committed), positions newly deleted, files dropped whole, files
    * given a vector, and files staged. */
  private final case class DvApplied(version: Int, positions: Long,
    dropped: Int, dvFiles: Int, staged: Int)

  /** Deletion-vector apply, shared by the light verbs: scan `mayMatch`
    * with row positions, keep the matched rows (`matchedIn`) and collect
    * their positions under the `maxPositions` bulk guard. Then, when a
    * row matched or `images` has rows to land regardless, stage the
    * images, fold the positions into the base's vectors
    * ([[foldPositions]] — the sidecars ride in the staged commit's dir)
    * and CAS; a lost race raises the usual
    * ConcurrentModificationException. `images` sees the matched rows
    * only when some matched; `persist` pins them when it re-reads
    * them. */
  private def applyDv(at: At, what: String, maxPositions: Int,
      mayMatch: Seq[String], op: String, header: Seq[String] = Nil,
      delta: Map[String, String] = Map.empty, persist: Boolean = false)(
      matchedIn: DataFrame => DataFrame)(
      images: Option[DataFrame] => Option[DataFrame]): DvApplied = {
    import at.{dir, v}
    require(maxPositions >= 0,
      s"$what: maxPositions must be >= 0, got $maxPositions")
    val matched = if (mayMatch.isEmpty) None else Some {
      val m = matchedIn(scanWithMeta(at, mayMatch, v))
      if (persist) m.persist() else m
    }
    try {
      // one row past the cap proves a refusal; past Int.MaxValue there
      // is no such row to ask for
      val hits = matched.fold(Array.empty[Row])(_
        .select(col(GfCol), col(GposCol))
        .limit(maxPositions + (if (maxPositions < Int.MaxValue) 1 else 0))
        .collect())
      require(hits.length <= maxPositions,
        s"$what on $dir matches more than $maxPositions table rows — use " +
          s"${what.stripSuffix("Light")} (copy-on-write) for bulk changes")
      val staged = images(matched.filter(_ => hits.nonEmpty))
        .map(stageAt(at, _))
      if (hits.isEmpty && staged.isEmpty) DvApplied(v, 0L, 0, 0, 0)
      else {
        val (dropped, newDv) = foldPositions(at, s"$what on $dir",
          hits, mayMatch, staged.flatMap(_.files.headOption)
            .fold(s"$DataDir/${java.util.UUID.randomUUID}")(f =>
              f.take(f.lastIndexOf('/'))))
        DvApplied(commitOn(at, op, at.meta.withProps(delta), staged,
          Some(dropped), newDv, header), hits.length.toLong, dropped.size,
          newDv.size, staged.fold(0)(_.files.length))
      }
    } finally if (persist) matched.foreach(_.unpersist(blocking = false))
  }

  /** `keys` spelled as in `cols` — the one key rule of every keyed
    * verb, applied to the table and to the source/key frame alike:
    * each key must name a column, case-insensitively like Spark's own
    * resolution. */
  private def keyCols(what: String, cols: Seq[String],
      keys: Seq[String]): Seq[String] = {
    require(keys.nonEmpty, s"$what needs at least one key column")
    keys.map(k => cols.find(_.equalsIgnoreCase(k)).getOrElse(
      throw new IllegalArgumentException(
        s"$what key '$k' is not a column: $cols")))
  }

  /** What a keyed classify yields: `src` (a merge's aligned, pinned
    * source; a key frame's pinned key rows), the keys in the table's
    * casing, `mutKeys` (every key the change names — upserts plus
    * tombstones), the key footprint ([[keyFootprint]]), the files it
    * may match vs carries untouched, and a merge's identity-mark
    * advance and schema evolution. */
  private final case class Keyed(src: DataFrame, keys: Seq[String],
    mutKeys: DataFrame, footprint: Option[Column], mayMatch: Seq[String],
    untouched: Seq[String], idDelta: Map[String, String] = Map.empty,
    evolve: Boolean = false)

  /** Keyed-merge classify, shared by [[merge]], [[mergeMixed]],
    * [[mergeLight]], [[idempotentMerge]] and [[applyChanges]]: align
    * the source to the table, pin it, prove it (identity, key-unique,
    * CHECK constraints — the table rows a merge keeps are already
    * valid, only the source needs proof), and prune by the footprint
    * of every key it names.
    *
    * Opt-in writer-side schema evolution (`evolvable` verbs, the Delta
    * mergeSchema/autoMerge knob `spark.graft.write.mergeSchema`): EXTRA
    * source columns evolve the schema additively in the SAME commit as
    * the data ([[evolveSchema]] — type conflicts and name resurrections
    * still refuse loudly); table columns the source LACKS are written
    * as what an omitted column reads everywhere else — the column
    * DEFAULT when pinned, NULL otherwise ([[missingColumnReads]]).
    * NOTE the replace-by-key contract: a matched row is replaced by its
    * source row ENTIRELY, so a lacking column reads default/NULL on
    * replaced rows too — callers that want SQL MERGE's per-column
    * `UPDATE SET` use the SQL surface.
    *
    * The source is pinned per attempt (the Delta materialize-source
    * rule): the dup probe, constraint probes, key footprint, the
    * retiring join and the staged rows are INDEPENDENT executions of
    * its plan — a nondeterministic source must yield ONE row set across
    * all of them ([[pinKeys]]). Generated columns materialize first.
    * Callers whose construction PROVES key uniqueness (applyChanges
    * nets to row_number()=1 per key) skip the dup probe, one full job
    * over the pinned source. */
  private def classifyMerge[A](at: At, source: DataFrame, keys: Seq[String],
      what: String, evolvable: Boolean, tombstones: Option[DataFrame] = None,
      keysProvedUnique: Boolean = false)(apply: Keyed => A): A = {
    import at.{dir, fs, root, spark, table, v}
    val canon = keyCols(what, table.columns.toSeq, keys)
    val dead = tombstones.map(t =>
      t.select(keyCols("tombstone", t.columns.toSeq, keys).map(col): _*)
        .toDF(canon: _*))
    val evolve = evolvable && spark.conf.getOption(
      "spark.graft.write.mergeSchema").exists(_.toBoolean)
    if (!evolve)
      require(table.columns.sorted.sameElements(source.columns.sorted),
        s"merge source columns ${source.columns.toSeq} != table " +
          s"columns ${table.columns.toSeq}" + (if (!evolvable) "" else
            " — set spark.graft.write.mergeSchema=true to evolve additively"))
    val aligned =
      if (!evolve) source.select(table.columns.map(source.col).toSeq: _*)
      else {
        val bySrcLower = source.schema.fields
          .map(f => f.name.toLowerCase -> f).toMap
        val tblLower = table.columns.map(_.toLowerCase).toSet
        val shared = table.schema.fields.toSeq.map { f =>
          bySrcLower.get(f.name.toLowerCase) match {
            case Some(sf) =>
              // refuse type drift BEFORE any data stages — the union
              // would otherwise silently coerce
              require(sf.dataType == f.dataType,
                s"schema conflict on column '${f.name}' of $dir: " +
                  s"table has ${f.dataType.sql}, merge source has " +
                  s"${sf.dataType.sql} — type changes require an " +
                  "explicit overwrite")
              source.col(sf.name).as(f.name)
            // a hard NULL here would make MERGE-inserted rows diverge
            // from the same row written by any other path
            case None => missingColumnReads(f).as(f.name)
          }
        }
        source.select(shared ++ source.schema.fields.toSeq
          .filterNot(f => tblLower.contains(f.name.toLowerCase))
          .map(f => source.col(f.name)): _*)
      }
    val src = pinKeys(at.pinned.fold(aligned)(materializeGenerated(_, aligned)))
    var pinnedMut: Option[DataFrame] = None
    try {
      at.pinned.foreach(s => refuseNullIdentity(s, src, dir, what))
      // explicit identity values the source introduces push the mark
      // in the SAME commit — the next INSERT must not re-issue them
      // (CAS at v+1 guards the advance)
      val idDelta = at.pinned
        .map(s => identityMarkAdvance(s, at.meta.props, src))
        .getOrElse(Map.empty[String, String])
      if (!keysProvedUnique) {
        val dup = src.na.drop(canon).groupBy(canon.map(col): _*)
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1L)
          .limit(1).count()
        require(dup == 0L,
          s"merge source has duplicate key tuples on $keys — " +
            "MERGE semantics would be non-deterministic")
      }
      enforceConstraints(at, src)
      // the tombstone side is pinned too: it feeds both the footprint
      // probes and the retiring join
      pinnedMut = dead.map(d => pinKeys(src.select(canon.map(col): _*)
        .unionByName(d).na.drop(canon).distinct()))
      val mutKeys = pinnedMut.getOrElse(src.select(canon.map(col): _*))
      val (fp, mayMatch, untouched) =
        keyFootprint(at, mutKeys.na.drop(canon).distinct(), canon)
      apply(Keyed(src, canon, mutKeys, fp, mayMatch, untouched, idDelta,
        evolve))
    } finally {
      src.unpersist()
      pinnedMut.foreach(_.unpersist())
    }
  }

  /** Key-frame classify, shared by [[deleteMatching]] and
    * [[updateMatching]]: the frame's distinct non-NULL key tuples are
    * pinned ONCE, above the retry loop — the footprint probes, the DML
    * join and every lost-CAS retry are INDEPENDENT executions of its
    * plan, and a nondeterministic frame (rand()-gated subquery,
    * sample()) could otherwise yield a footprint that misses files the
    * join matches, silently keeping their rows ([[pinKeys]]). Each
    * attempt renames the pinned keys to the table's casing (metadata
    * only) and prunes by their footprint. */
  private def classifyKeys[A](spark: SparkSession, dir: String,
      frame: DataFrame, keys: Seq[String], expectedVersion: Int, what: String,
      verb: String)(body: (At, Keyed) => A): A = {
    val pinned = pinKeys(frame.select(keyCols(what, frame.columns.toSeq,
      keys).map(col): _*).na.drop().distinct())
    try dmlOn(spark, dir, expectedVersion, verb) { at =>
      val canon = keyCols(what,
        at.pinned.fold(at.table.columns.toSeq)(_.fieldNames.toSeq), keys)
      val src = pinned.toDF(canon: _*)
      val (fp, mayMatch, untouched) = keyFootprint(at, src, canon)
      body(at, Keyed(src, canon, src, fp, mayMatch, untouched))
    } finally pinned.unpersist()
  }

  /** The copy-on-write merge family's executor: [[classifyMerge]],
    * then the touched files' rows minus every named key, plus the
    * source, staged and committed with rebase. */
  private def mergeCow(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], expectedVersion: Int, verb: String,
      header: Seq[String] = Nil, tombstones: Option[DataFrame] = None,
      propsDelta: Map[String, String] = Map.empty,
      keysProvedUnique: Boolean = false,
      guard: Option[Int] => Unit = _ => ()): MergeResult = {
    require(keys.nonEmpty, "merge needs at least one key column")
    dml(spark, dir, expectedVersion, verb) { base =>
      guard(base.map(_.v))
      base match {
        case None =>
          // empty table: tombstones have nothing to delete, the merge is
          // the first append — which holds only while the table is
          // empty, so a lost race never rebases: dml re-runs the merge
          // against the winner's rows
          val chains = chainsFor(spark, dir)
          MergeResult(
            commitIngest(spark, dir, chains, 0,
              stageOn(chains.fs, chains.root, Meta(), source), "merge",
              header, guard, rebase = false, delta = propsDelta),
            rewrittenFiles = 0, untouchedFiles = 0)
        case Some(at) => classifyMerge(at, source, keys, "merge",
            evolvable = true, tombstones, keysProvedUnique) { m =>
          // evolving merges append the NEW columns after the table's
          // (rewritten table rows read NULL there, like pre-evolution
          // files do) — exactly evolveSchema's shape
          val staged = stageAt(at,
            (if (m.mayMatch.isEmpty) at.table.limit(0) else at.scan(m.mayMatch))
              .join(m.mutKeys, m.keys, "left_anti")
              .unionByName(m.src, allowMissingColumns = m.evolve))
          // schema + data land as ONE commit: the staged frame's schema
          // evolves the base's pinned schema additively
          val evolved = if (!m.evolve) None else Some(evolveSchema(
            at.schema, staged.schema, dir, at.meta.dropped))
          val (v, carried) = applyCow(at,
            if (tombstones.isDefined) "merge-mixed" else "merge", m.footprint,
            m.mayMatch, m.untouched, staged, evolved, m.idDelta ++ propsDelta,
            dmlKeysHeader(keys) ++ header, guard)
          MergeResult(v, rewrittenFiles = staged.files.length,
            untouchedFiles = carried)
        }
      }
    }
  }

  /** Predicate-delete classify of the copy-on-write verbs
    * ([[deleteWhere]], [[replaceWhere]]): may-match vs untouched files
    * with the `!pred` survivor set from ONE stats pass; of the
    * may-match files, those where NO row can survive drop whole
    * (interval disproof of `!pred` plus the null-free guard —
    * fail-open keeps files in the rewrite set). Returns (may-match,
    * untouched, dropped whole, the rewrite set's surviving rows). */
  private def classifyDelete(at: At, pred: Column)
      : (Seq[String], Seq[String], Seq[String], Option[DataFrame]) = {
    val (mayMatch, untouched, survivors) = pruneBoth(at, pred)
    val (maySurvive, dropWhole) =
      splitDropWholeWith(at, pred, mayMatch, survivors)
    (mayMatch, untouched, dropWhole,
      if (maySurvive.isEmpty) None
      else Some(at.scan(maySurvive).filter(!isTrue(pred))))
  }

  /** File counts of a [[deleteWhere]]: `rewrittenFiles` had surviving
    * rows next to deleted ones, `droppedFiles` were deleted whole
    * without being read (every row provably matched — only when stats
    * prove the COMPLEMENT empty), `untouchedFiles` carried by name. */
  final case class DeleteResult(version: Int, rewrittenFiles: Int,
    droppedFiles: Int, untouchedFiles: Int)

  /** CDC tombstone application — delete every table row whose `keys`
    * tuple appears in `tombstones`: the `MERGE ... WHEN MATCHED THEN
    * DELETE` shape, where the delete predicate is a FRAME of keys
    * rather than a [[Column]] ([[deleteWhere]]'s in-set predicate
    * caps at a literal list; a CDC feed's tombstone batch does not).
    * File-level pruning reuses [[merge]]'s key-footprint machinery:
    * only files whose stats intersect the tombstones' key range/set
    * are read and rewritten (anti-join on the keys), the rest carry
    * by name — a narrow tombstone batch against a key-clustered
    * 100 TB table touches the keys' files, not the table. NULL key
    * tuples in `tombstones` never match (SQL ON-clause equality);
    * duplicate tombstones are harmless and deduplicated. Unpinned
    * calls retry a lost CAS race like [[deleteWhere]]. */
  def deleteMatching(spark: SparkSession, dir: String,
      tombstones: DataFrame, keys: Seq[String],
      expectedVersion: Int = -1): DeleteResult =
    classifyKeys(spark, dir, tombstones, keys, expectedVersion,
        "deleteMatching", "delete") { (at, k) =>
      if (k.mayMatch.isEmpty) // nothing can match: no commit
        DeleteResult(at.v, 0, 0, k.untouched.length)
      else {
        val staged = stageAt(at,
          at.scan(k.mayMatch).join(k.src, k.keys, "left_anti"))
        val (v, carried) = applyCow(at, "merge-delete", k.footprint,
          k.mayMatch, k.untouched, staged)
        DeleteResult(v, rewrittenFiles = staged.files.length,
          droppedFiles = 0, untouchedFiles = carried)
      }
    }

  /** The sound-superset key footprint shared by every key-addressed
    * DML verb (the merge family / deleteMatching / updateMatching): an
    * in-set predicate for few keys, per-column min/max ranges otherwise
    * — every table row that can match some named key satisfies it.
    * `src` must already be key-projected, NULL-dropped and distinct.
    * Returns the footprint (`None` = no fully-non-null key was named:
    * nothing can match) and `at`'s files it may match vs the rest. */
  private def keyFootprint(at: At, src: DataFrame, keys: Seq[String])
      : (Option[Column], Seq[String], Seq[String]) = {
    val fp = if (keys.lengthCompare(1) == 0) {
      val vals = src.limit(MergeInSetLimit + 1).collect().map(_.get(0))
      if (vals.isEmpty) None
      else if (vals.length <= MergeInSetLimit)
        Some(col(keys.head).isin(vals.toIndexedSeq: _*))
      else {
        val r = src.agg(min(col(keys.head)), max(col(keys.head))).head()
        Some(col(keys.head).between(lit(r.get(0)), lit(r.get(1))))
      }
    } else {
      val aggs = keys.flatMap(k => Seq(min(col(k)), max(col(k))))
      val r = src.agg(aggs.head, aggs.tail: _*).head()
      if (r.isNullAt(0)) None
      else Some(keys.zipWithIndex.map { case (k, i) =>
        col(k).between(lit(r.get(2 * i)), lit(r.get(2 * i + 1)))
      }.reduce(_ && _))
    }
    val (mayMatch, untouched) = fp.fold(
      (Seq.empty[String], at.chain.files))(pruneAt(at, _))
    (fp, mayMatch, untouched)
  }

  /** Fully materialize `frame` in the block cache so every later read
    * of it — footprint probes, the DML join, a lost-CAS retry — sees
    * the SAME rows even when the plan is nondeterministic. `count()`
    * (not a bare `persist()`) because caching is per-partition on
    * full iteration: a `limit().collect()` first action would pin
    * only the partitions it happened to read. */
  private def pinKeys(frame: DataFrame): DataFrame = {
    val pinned = frame.persist()
    pinned.count()
    pinned
  }

  /** Copy-on-write DELETE — rows satisfying `pred` are removed as ONE
    * new version; with [[merge]] and the append/overwrite pair this
    * completes the DML surface. Same file-level machinery as
    * [[readWhere]], pointed both ways:
    *
    *   - files whose stats DISPROVE `pred` carry into the new manifest
    *     by name (stats included) — never read: the GDPR/user-delete on
    *     a key-clustered 100 TB table touches the files holding that
    *     key, not the table;
    *   - files whose stats disprove `NOT pred` (provable on the same
    *     conjunct vocabulary — e.g. a whole partition-month inside a
    *     deleted range) are dropped whole — also never read;
    *   - only files that may hold BOTH kinds of rows are read and
    *     rewritten as `filter(NOT pred)`.
    *
    * Both prunings are fail-open: an unrecognized predicate shape just
    * rewrites more files; content is always exactly
    * `read(dir).filter(!pred)`. Null-predicate rows (pred evaluates
    * NULL) are KEPT — SQL DELETE semantics: only rows where the
    * predicate is TRUE are removed. Concurrency mirrors [[merge]]:
    * with an `expectedVersion` OCC token a lost race throws; unpinned
    * (the default) it retries against the new current version — the
    * delete is a function of (table, pred), so re-running serializes
    * after the racing commit. */
  def deleteWhere(spark: SparkSession, dir: String, pred: Column,
      expectedVersion: Int = -1): DeleteResult =
    dmlOn(spark, dir, expectedVersion, "delete") { at =>
      val (mayMatch, untouched, dropWhole, survivors) =
        classifyDelete(at, pred)
      val staged = stageAt(at,
        survivors.getOrElse(at.table.limit(0)))
      val (v, carried) = applyCow(at, "delete", Some(pred), mayMatch,
        untouched, staged)
      DeleteResult(v, rewrittenFiles = staged.files.length,
        droppedFiles = dropWhole.length, untouchedFiles = carried)
    }

  /** Of `mayMatch` files, those provably holding NO surviving row
    * under a SQL DELETE of `pred`: `survivors` (the files `!pred` may
    * still match, from [[pruneBoth]]'s same stats pass) excludes them
    * AND every column `pred` references is NULL-FREE in the file per
    * `stats` (the caller's already-loaded map — no manifest re-read).
    * The null guard is what makes the interval disproof sufficient —
    * a row with a NULL input satisfies neither `pred` nor `!pred` (it
    * SURVIVES: only provably-TRUE rows leave), and min/max intervals
    * are blind to it, so without the guard a file holding both
    * matching rows and NULL-predicate rows would drop whole and
    * silently delete the NULL rows its verb's contract keeps. Every
    * unknown (missing stats, unresolvable reference, no references)
    * is fail-open: the file stays in the rewrite set, where the row
    * filter gets the semantics exactly right. Returns
    * (maySurvive → rewrite, dropWhole). */
  private def splitDropWholeWith(at: At, pred: Column,
      mayMatch: Seq[String], survivors: Set[String])
      : (Seq[String], Seq[String]) =
    if (mayMatch.isEmpty) (Nil, Nil)
    else {
      val table = at.table
      val stats = at.chain.stats
      val refs = table.filter(pred).queryExecution.analyzed
        .collectFirst { case f: Filter => f.condition }
        .map(_.references.map(_.name).toSeq.distinct).getOrElse(Nil)
      val physByLogical: Map[String, String] =
        table.schema.fields.map(f => f.name -> physOf(f)).toMap
      def nullFree(f: String): Boolean = refs.nonEmpty && refs.forall {
        c => stats.get(f).flatMap(_.get(physByLogical.getOrElse(c, c)))
          .exists(_.nulls == 0L)
      }
      mayMatch.partition(f => survivors.contains(f) || !nullFree(f))
    }

  /** What a [[replaceWhere]] did: `stagedFiles` covers both the
    * rewritten survivors and the incoming rows (staged together as one
    * file set); dropped/untouched mirror [[DeleteResult]]. */
  final case class ReplaceResult(version: Int, stagedFiles: Int,
    droppedFiles: Int, untouchedFiles: Int)

  /** Scoped overwrite — `INSERT INTO t REPLACE WHERE pred`: rows
    * satisfying `pred` are removed and `data` takes their place, as
    * ONE atomic commit (op `replace-where`). This is the 100 TB-safe
    * spelling of truncate-and-reload (the reference reloads whole
    * dimension tables per tick — `scripts/dim_refresh.py` semantics):
    * an idempotent backfill replaces exactly its own slice — re-running
    * yesterday's load rewrites yesterday's files, never the table, and
    * a crash mid-job leaves the previous version fully readable.
    *
    * File-level cost is [[deleteWhere]]'s pruning: files whose stats
    * disprove `pred` carry by name (never read), may-match files with
    * no provable survivor drop whole, only genuinely mixed files are
    * read (deletion vectors applied) and rewritten as `filter(NOT
    * pred)`; `data` stages alongside. On a table clustered on the
    * replace key (e.g. event date), a daily re-load touches the day's
    * files out of years of history.
    *
    * CONTRACT: every incoming row must itself satisfy `pred` —
    * refused loudly otherwise, because an out-of-scope row would
    * silently survive the next reload of its own scope (the silent-
    * drift failure this op exists to prevent). NULL-predicate incoming
    * rows refuse for the same reason; NULL-predicate existing rows are
    * KEPT (SQL DELETE semantics — only provably-TRUE rows leave).
    * CHECK constraints are enforced on `data` before anything commits.
    * Columns must match the table's (any order); schema never evolves.
    * Concurrency mirrors [[deleteWhere]]: pinned `expectedVersion`
    * throws on a lost race, unpinned retries against the new current
    * version (the replace is a function of (table, pred, data)). */
  def replaceWhere(spark: SparkSession, dir: String, pred: Column,
      data: DataFrame, expectedVersion: Int = -1): ReplaceResult =
    dml(spark, dir, expectedVersion, "replace") { base =>
      val at = base.getOrElse(throw new java.util.NoSuchElementException(
        s"nothing to replace in $dir — the first load of a table is a " +
          "plain append/overwrite"))
      import at.{fs, root, table}
      require(table.columns.sorted.sameElements(data.columns.sorted),
        s"replaceWhere data columns ${data.columns.toSeq} != table " +
          s"columns ${table.columns.toSeq}")
      // stage the load FIRST, validate the STAGED BYTES: the incoming
      // plan executes exactly once, so a non-deterministic source
      // cannot pass validation with one sample and commit another (and
      // a large backfill is not computed three times over). A failed
      // check deletes the staged files and commits nothing.
      val load = data.select(table.columns.map(data.col).toSeq: _*)
      val stagedLoad = stageAt(at,
        at.pinned.fold(load)(materializeGenerated(_, load)))
      val physToLogical = table.schema.fields
        .map(f => physOf(f) -> f.name).toMap
      val loadBack =
        if (stagedLoad.files.isEmpty) table.limit(0)
        else {
          val raw = spark.read.parquet(
            stagedLoad.files.map(f => new HPath(root, f).toString): _*)
          raw.select(raw.columns.toSeq.map(c =>
            col(c).as(physToLogical.getOrElse(c, c))): _*)
        }
      try {
        // scope containment: a row outside `pred` would survive the
        // next reload of its own scope — the silent drift this op
        // prevents
        val outOfScope = loadBack.filter(!isTrue(pred)).take(1)
        if (outOfScope.nonEmpty) throw new IllegalArgumentException(
          s"replaceWhere into $dir: incoming row does not satisfy the " +
            s"replace predicate (${outOfScope.head}) — every inserted " +
            "row must be inside the replaced scope; widen the predicate " +
            "or filter the load")
        // a scoped replace re-loads rows that conceptually EXIST — they
        // carry their ids; fresh rows belong in the INSERT/append verbs
        // (which assign). Validated on the STAGED BYTES like the checks
        // above, keeping the stage-once discipline.
        at.pinned.foreach(s => refuseNullIdentity(s, loadBack, dir,
          "replaceWhere"))
        enforceConstraints(at, loadBack)
      } catch { case NonFatal(t) =>
        stagedLoad.files.map(f => f.take(f.lastIndexOf('/'))).distinct
          .foreach(rel => fs.delete(new HPath(root, rel), true))
        throw t
      }
      // explicit identity values the load introduces push the mark in
      // the SAME commit (usually a no-op — re-loaded rows sit below it)
      val idDelta = at.pinned
        .map(s => identityMarkAdvance(s, at.meta.props, loadBack))
        .getOrElse(Map.empty[String, String])
      val (mayMatch, untouched, dropWhole, survivors) =
        classifyDelete(at, pred)
      val staged = survivors.map(stageAt(at, _)).fold(stagedLoad)(
        s => Staged(s.files ++ stagedLoad.files, s.stats ++ stagedLoad.stats,
          stagedLoad.schema))
      val (v, carried) = applyCow(at, "replace-where", Some(pred), mayMatch,
        untouched, staged, Some(at.schema), idDelta)
      ReplaceResult(v, stagedFiles = staged.files.length,
        droppedFiles = dropWhole.length, untouchedFiles = carried)
    }

  final case class UpdateResult(version: Int, rewrittenFiles: Int,
    untouchedFiles: Int)

  /** Copy-on-write UPDATE — rows satisfying `pred` get `assignments`
    * applied (each value cast to the column's declared type, SQL
    * UPDATE semantics), as ONE new version. File-level pruning is the
    * same as [[deleteWhere]]'s may-match split: files whose stats
    * disprove `pred` carry into the new manifest untouched (at 100 TB
    * a point update rewrites a handful of files, not the table), only
    * may-match files are read (their deletion vectors applied) and
    * rewritten whole. Rows NOT matching inside a rewritten file pass
    * through byte-identical values; a NULL predicate leaves the row
    * unchanged (UPDATE touches only rows where `pred` IS TRUE). CHECK
    * constraints are enforced on the rewritten rows before anything
    * commits. A predicate no file can match commits nothing and
    * returns the current version. Assignment targets must be existing
    * top-level columns — UPDATE never evolves schema. */
  def updateWhere(spark: SparkSession, dir: String, pred: Column,
      assignments: Seq[(String, Column)],
      expectedVersion: Int = -1): UpdateResult =
    dmlOn(spark, dir, expectedVersion, "update") { at =>
      val cols = at.table.schema
      val assigned = assignedOf(dir, cols, assignments)
      val (mayMatch, untouched) = pruneAt(at, pred)
      if (mayMatch.isEmpty) UpdateResult(at.v, 0, untouched.length)
      else {
        val rows = assign(cols, assigned, isTrue(pred))(at.scan(mayMatch))
        // updated values are NEW data: they must prove the table's CHECK
        // constraints before the commit, exactly like an append's rows
        enforceConstraints(at, rows)
        val staged = stageAt(at, rows)
        val (v, carried) = applyCow(at, "update", Some(pred), mayMatch,
          untouched, staged)
        UpdateResult(v, rewrittenFiles = staged.files.length,
          untouchedFiles = carried)
      }
    }

  /** Files a keyed/predicate DML commit carried by name: `untouched`
    * when it landed on its own base, else the rebased tip's files
    * minus the `removed` ones (interlopers' adds carried too). */
  private def untouchedAfter(at: At, committed: Int, removed: Seq[String],
      untouched: Seq[String]): Int =
    if (committed == at.v + 1) untouched.length
    else {
      val gone = removed.toSet
      at.chains(committed - 1).files.count(!gone(_))
    }

  /** Copy-on-write KEY-FRAME update — the UPDATE twin of
    * [[deleteMatching]] and the executor of the CDC "apply these
    * assignments to the rows these keys name" statement (`UPDATE ...
    * WHERE EXISTS/IN (correlated subquery)` routes here): rows whose
    * `keys` tuple appears in `matchKeys` get `assignments` applied;
    * everything else carries byte-identical. The file-level footprint
    * is the shared key footprint ([[keyFootprint]]) — a narrow key
    * set rewrites its keys' files, never the table — and `matchKeys`
    * may be any DataFrame at any cardinality (it joins distributed,
    * no driver materialization). NULL key tuples in `matchKeys` drop
    * (a NULL key matches nothing); duplicate target keys each update
    * (semi-join semantics, unlike merge's replace-by-key). */
  def updateMatching(spark: SparkSession, dir: String,
      matchKeys: DataFrame, keys: Seq[String],
      assignments: Seq[(String, Column)],
      expectedVersion: Int = -1): UpdateResult =
    classifyKeys(spark, dir, matchKeys, keys, expectedVersion,
        "updateMatching", "update") { (at, k) =>
      val cols = at.table.schema
      val assigned = assignedOf(dir, cols, assignments)
      require(!cols.fieldNames.exists(_.equalsIgnoreCase("__upd_mark")),
        "updateMatching reserves the __upd_mark column name")
      if (k.mayMatch.isEmpty) // nothing can match: no commit
        UpdateResult(at.v, 0, k.untouched.length)
      else {
        val rows = assign(cols, assigned, col("__upd_mark").isNotNull)(
          at.scan(k.mayMatch).join(k.src.withColumn("__upd_mark", lit(true)),
            k.keys, "left"))
        enforceConstraints(at, rows)
        val staged = stageAt(at, rows)
        val (v, carried) = applyCow(at, "update", k.footprint, k.mayMatch,
          k.untouched, staged)
        UpdateResult(v, rewrittenFiles = staged.files.length,
          untouchedFiles = carried)
      }
    }

  /** Exactly-once [[merge]] for streaming epochs — the upsert analogue
    * of [[idempotentAppend]]: a replayed (writerId, batchId) is
    * recognized from the manifest tag and skipped (None), also when it
    * lands through a racing call ([[exactlyOnce]]). Unlike the
    * OCC-token batch merge, a lost CAS race here RETRIES against the
    * new current version ([[retryOnRace]]: backoff with jitter, giving
    * up after 20 straight losses): the racing commit is
    * someone else's append/merge, and re-pruning + re-merging on top of
    * it is exactly the serialization a streaming upsert wants — the
    * source batch is this writer's to apply, in some order, once. */
  def idempotentMerge(spark: SparkSession, dir: String, source: DataFrame,
      keys: Seq[String], writerId: String,
      batchId: Long): Option[MergeResult] =
    exactlyOnce(spark, dir, writerId, batchId) { (tag, guard) =>
      mergeCow(spark, dir, source, keys, -1, "idempotentMerge", header = tag,
        guard = guard)
    }

  /** RESTORE: make `version`'s content the CURRENT version again, as a
    * new commit — the rollback after a bad write. Purely file-level:
    * the new manifest lists the old version's files (stats and schema
    * carried), nothing is read or copied, and the bad versions stay in
    * history for forensics until [[vacuum]]. Refuses if any of the
    * target's files have been vacuumed away (restoring a hole would
    * manufacture an unreadable current version). Same OCC discipline
    * as [[compact]]: a racing commit wins and this throws. */
  def restore(spark: SparkSession, dir: String, version: Int): Int = {
    val (fs, root) = fsFor(spark, dir)
    val cur = currentVersion(spark, dir).getOrElse(
      throw new java.util.NoSuchElementException(s"nothing to restore in $dir"))
    require(versions(spark, dir).contains(version),
      s"version $version does not exist in $dir")
    val chain = new Chains(fs, root)(version)
    val files = chain.files
    val missing = files.filterNot(f => fs.exists(new HPath(root, f)))
    require(missing.isEmpty,
      s"cannot restore $dir to v$version: ${missing.size} of its files " +
        s"were vacuumed (first: ${missing.headOption.getOrElse("")})")
    val meta = chain.meta
    val header =
      meta.schema.map(schemaHeader).toSeq ++ meta.header ++
        opHeader("restore") ++
        dvLines(chain.dv, files.toSet) ++ chain.fileLinesOf(files.toSet)
    val next = cur + 1
    if (!casManifest(fs, root, next, files, header))
      throw new java.util.ConcurrentModificationException(
        s"restore of $dir to v$version lost the commit race")
    next
  }

  /** Row-level change-data-capture between two committed versions:
    * every row of `toVersion` not in `fromVersion` tagged
    * `change_type='insert'`, every row of `fromVersion` not in
    * `toVersion` tagged `'delete'` (multiset semantics — k extra
    * copies of a row diff as k inserts). An update appears as its
    * delete + its insert, the standard CDC decomposition.
    *
    * The scale property is file-level pruning: data files are
    * immutable and manifest-named, so any file listed by BOTH
    * manifests contributes identical rows to both sides and cancels
    * WITHOUT being read. Only files added or removed between the two
    * versions are scanned — diffing two 100 TB versions after an
    * append costs exactly the appended files, not two table scans.
    * The row-level exceptAll then cancels only what file identity
    * could not (an overwrite that rewrote the same logical rows into
    * new files). Append-only histories skip the exceptAll entirely.
    */
  def diff(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Int): DataFrame =
    diffAt(resolveAt(spark, dir, toVersion), fromVersion)

  /** [[diff]] from `fromVersion` to `to`, through `to`'s chains. */
  private def diffAt(to: At, fromVersion: Int): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val from = to.chains(fromVersion)
    val fromF = from.files.toSet
    val toF = to.chain.files.toSet
    // a file in both versions whose deletion vector CHANGED no longer
    // contributes identical rows to both sides: it re-enters the scan
    // on both, each side read under its own DV state, and the row-level
    // exceptAll cancels what survived on both
    val dvFromM = from.dv
    val dvToM = to.chain.dv
    val drifted = (fromF intersect toF)
      .filter(f => dvFromM.get(f) != dvToM.get(f))
    val addedFiles = ((toF -- fromF) ++ drifted).toSeq.sorted
    val removedFiles = ((fromF -- toF) ++ drifted).toSeq.sorted
    // limit(0) keeps the schema but optimizes to an empty relation —
    // no file of the pinned version is actually scanned for it. BOTH
    // sides read under toVersion's pinned schema, so after an additive
    // evolution the diff is expressed in the newer shape (older rows
    // carry NULL in columns that postdate them).
    lazy val empty = to.table.limit(0)
    def readFiles(files: Seq[String], dvV: Int): DataFrame =
      if (files.isEmpty) empty else to.scan(files, dvV)
    val added = readFiles(addedFiles, to.v)
    val removed = readFiles(removedFiles, fromVersion)
    val inserts =
      (if (removedFiles.isEmpty) added else added.exceptAll(removed))
        .withColumn("change_type", lit("insert"))
    val deletes =
      (if (addedFiles.isEmpty) removed else removed.exceptAll(added))
        .withColumn("change_type", lit("delete"))
    inserts.unionByName(deletes)
  }

  /** The rows APPENDED after `fromVersion`, up to `toVersion` (default
    * latest) — the incremental-consumer read: a downstream job records
    * the version it last processed and pays only the new files on the
    * next run (compose with [[IncrementalAgg.advanceVersioned]] for the
    * full never-rescan-history pipeline). `fromVersion = 0` means
    * everything. Purely file-level — nothing is scanned to DECIDE, and
    * only the added files are scanned to READ.
    *
    * If any of `fromVersion`'s files are gone from `toVersion` — an
    * overwrite or compact rewrote history — appended-files no longer
    * describe the change and this throws instead of silently feeding
    * the consumer wrong deltas: re-sync from a full [[read]] (or walk
    * version-by-version via [[diff]]). */
  def changesSince(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Int = -1): DataFrame = {
    val at = resolveAt(spark, dir, toVersion)
    val (fromF, toF) = appendOnlyGuard(at, fromVersion)
    val added = (toF -- fromF).toSeq.sorted
    if (added.isEmpty) at.table.limit(0) else at.scan(added)
  }

  /** The shared [[changesSince]] precondition: between `fromVersion`
    * and `at`, nothing of the base may have been rewritten (files) or
    * re-characterized (deletion vectors) — otherwise appended-files no
    * longer describe the change and the consumer must re-sync. Returns
    * the two manifests' file sets. */
  private def appendOnlyGuard(at: At,
      fromVersion: Int): (Set[String], Set[String]) = {
    import at.{dir, v => to}
    val fromF =
      if (fromVersion == 0) Set.empty[String]
      else at.chains(fromVersion).files.toSet
    val toF = at.chain.files.toSet
    val removed = fromF -- toF
    if (removed.nonEmpty)
      throw new IllegalStateException(
        s"changesSince($fromVersion -> $to) on $dir: ${removed.size} " +
          "file(s) of the base version were rewritten (overwrite/compact " +
          "landed in between) — appended files no longer describe the " +
          "change; re-sync from a full read")
    // deletion vectors break the file-identity-implies-content-identity
    // premise the same way a rewrite does — fail as loudly
    if (fromVersion != 0) {
      val dvFromM = at.chains(fromVersion).dv
      val dvToM = at.chain.dv
      val drifted = fromF.filter(f => dvFromM.get(f) != dvToM.get(f))
      if (drifted.nonEmpty)
        throw new IllegalStateException(
          s"changesSince($fromVersion -> $to) on $dir: deletion vectors " +
            s"changed on ${drifted.size} base file(s) (deleteWhereLight " +
            "landed in between) — appended files no longer describe the " +
            "change; re-sync from a full read")
    }
    (fromF, toF)
  }

  /** The file-level decomposition of [[changesSince]]: for each
    * retained version in `(fromVersion, toVersion]`, the data files
    * that FIRST APPEARED at that version (deterministic: sorted within
    * a version), so an admission-controlled consumer can draw down a
    * backlog in file-sized slices. Guards are [[changesSince]]'s plus
    * one STRICTER check: every attributed file must still be in
    * `toVersion`'s manifest — a mid-window rewrite (a merge that
    * retired a file appended inside the window) makes per-version
    * slicing ill-defined, and this fails loudly where the net-state
    * [[changesSince]] could still answer. Driver-side manifest walk
    * only; no data touched. */
  def appendedFilesByVersion(spark: SparkSession, dir: String,
      fromVersion: Int, toVersion: Int): Seq[(Int, Seq[String])] = {
    val at = resolveAt(spark, dir, toVersion)
    val (fromF, toF) = appendOnlyGuard(at, fromVersion)
    val walk = versions(spark, dir)
      .filter(v => v > fromVersion && v <= toVersion)
    var prev = fromF
    val seen = scala.collection.mutable.Set[String]()
    walk.map { v =>
      val cur = at.chains(v).files.toSet
      val appeared = (cur -- prev).filterNot(seen).toSeq.sorted
      val gone = appeared.filterNot(toF)
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"appendedFilesByVersion($fromVersion -> $toVersion) on $dir: " +
            s"${gone.size} file(s) appended at v$v were rewritten before " +
            s"v$toVersion (a merge/compact landed mid-window) — " +
            "per-version slicing is ill-defined; re-sync from a full read")
      seen ++= appeared
      prev = cur
      v -> appeared
    }
  }

  /** Read a slice of the files [[appendedFilesByVersion]] named, under
    * `toVersion`'s pinned schema and deletion vectors — the
    * partial-batch reader behind `maxFilesPerTrigger`. */
  def readAppendedSlice(spark: SparkSession, dir: String,
      toVersion: Int, files: Seq[String]): DataFrame = {
    val at = resolveAt(spark, dir, toVersion)
    if (files.isEmpty) at.table.limit(0) else at.scan(files)
  }

  /** The row-level CHANGE FEED across `(fromVersion, toVersion]`:
    * every retained commit contributes its rows tagged `_change_type`
    * (`insert` | `delete` | `update_preimage` | `update_postimage`)
    * and `_commit_version` — the read that lets a CDC consumer FOLLOW
    * a table that receives merges, deletes, updates, and
    * deletion-vector drift, exactly where the net-state
    * [[changesSince]] must refuse. UPDATE commits (update /
    * update-light) pair totally — every removed row is an
    * `update_preimage`, every added row its `update_postimage`;
    * merge-family commits pair by the commit's recorded key columns
    * (`#dmlkeys`): a key on both sides is an update, one-sided rows
    * stay insert|delete. Where pairing is unknowable (replace-where,
    * overwrite, commits from pre-`#dmlkeys` writers) the feed keeps
    * the plain delete+insert decomposition — semantically complete
    * for materialization either way (net state: insert +
    * update_postimage − delete − update_preimage).
    *
    * Cost model, built for backlogs: maximal runs of APPEND-ONLY
    * commits coalesce into ONE scan of exactly the appended files
    * (per-row `_commit_version` attached by a broadcast join on the
    * file identity the scan already carries — the plan stays O(runs),
    * not O(versions)); a DV-ACCRETIVE commit (delete-light /
    * update-light / merge-light, per its own op tag) decomposes
    * POSITIONALLY — deletes are the rows at its newly vectored
    * positions, read once, O(new positions); every other DML commit
    * decomposes row-level via [[diff]], file-pruned to the files that
    * commit actually touched; and a commit whose own op tag DECLARES
    * it a content-identical
    * rewrite (compact / optimize / optimize-where / optimize-bucketed
    * / dv-fold / bloom-index — tags this library's own rewrite paths
    * write, each guaranteeing content identity by construction)
    * contributes zero rows WITHOUT scanning a byte — in-window
    * maintenance is free to the feed. The skip applies only when the
    * commit's predecessor is retained (a vacuum gap could fold real
    * changes into the tagged version — those decompose via [[diff]]).
    * Versions vacuumed mid-window fold their changes into the next
    * retained commit (file-set attribution — net effect preserved).
    * `fromVersion` must be 0 or retained; re-sync from a full read
    * otherwise. Schema evolution mid-window NULL-fills columns that
    * postdate a segment. */
  /** Op tags whose commits are content-identical rewrites by
    * construction (every writer of these tags in this library
    * guarantees it) — the change feed skips them scan-free. */
  private val ContentIdenticalOps = Set("compact", "optimize",
    "optimize-where", "optimize-bucketed", "optimize-incremental",
    "dv-fold", "bloom-index")

  /** Op tags whose commits mutate ONLY by accreting deletion vectors
    * (plus possibly appending image files) — every writer guarantees
    * per-file vectors grow monotonically (a RESTORE can shrink one,
    * which is why this is an op allowlist, not a shape inference).
    * The feed decomposes these positionally: deletes are the rows at
    * the NEWLY vectored positions — O(new positions), no diff. */
  private val DvAccretiveOps = Set("delete-light", "update-light",
    "merge-light")

  /** update-light / CoW update commits: the removed rows and the
    * added rows are by construction the SAME rows pre/post assignment
    * (unchanged rows cancel in the diff) — the whole segment relabels
    * to update images without key knowledge. */
  private def relabelAllAsUpdates(seg: DataFrame): DataFrame =
    seg.withColumn("_change_type",
      when(col("_change_type") === "delete", lit("update_preimage"))
        .when(col("_change_type") === "insert", lit("update_postimage"))
        .otherwise(col("_change_type")))

  /** Merge-family commits: a key tuple on BOTH sides of one commit's
    * segment is an UPDATE — its delete-side row becomes
    * `update_preimage`, its insert-side row `update_postimage`;
    * one-sided rows stay insert|delete (fresh inserts, tombstones).
    * ONE window pass over the segment keyed by the commit's recorded
    * `#dmlkeys` — no join, no second execution of the underlying
    * diff, O(commit delta) shuffle. NULL-keyed rows never pair (a
    * NULL merge key matches nothing). Commits from writers predating
    * the header keep the insert|delete decomposition (fail-open). */
  private def pairUpdateImages(seg: DataFrame,
      keys: Seq[String]): DataFrame = {
    val canon = keys.map(k => seg.columns.find(_.equalsIgnoreCase(k)))
    if (keys.isEmpty || canon.exists(_.isEmpty)) return seg
    val kc = canon.flatten
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(kc.map(col): _*)
    val both = (min(col("_change_type")).over(w) =!=
      max(col("_change_type")).over(w)) &&
      kc.map(col(_).isNotNull).reduce(_ && _)
    seg.withColumn("_change_type",
      when(both && col("_change_type") === "delete",
        lit("update_preimage"))
        .when(both && col("_change_type") === "insert",
          lit("update_postimage"))
        .otherwise(col("_change_type")))
  }

  def changeFeed(spark: SparkSession, dir: String, fromVersion: Int,
      toVersion: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, lit}
    val at = resolveAt(spark, dir, toVersion)
    import at.{chains, fs, root, v => to}
    val vs = versions(spark, dir)
    require(fromVersion == 0 || vs.contains(fromVersion),
      s"change feed base v$fromVersion of $dir is not retained " +
        "(vacuumed?) — re-sync from a full read")
    val walk = vs.filter(v => v > fromVersion && v <= to)
    val segs = scala.collection.mutable.ArrayBuffer[DataFrame]()
    // (version, appended files) of the current append-only run
    var run = List.empty[(Int, Seq[String])]
    def flushRun(): Unit = {
      val files = run.reverse.flatMap(_._2)
      if (files.nonEmpty) {
        val endV = run.head._1
        import spark.implicits._
        // version attribution joins on the fully-qualified physical
        // path (what [[GfCol]] carries) — unique by construction,
        // converted hive layouts with repeated basenames included,
        // so the whole run is always ONE scan
        val phys = physicalPaths(fs, root, files).toMap
        val byFile = run.reverse.flatMap { case (v, fl) =>
          fl.map(f => (phys(f), v))
        }.toDF("__cf_file", "_commit_version")
        segs += scanWithMeta(at.at(endV), files, endV)
          .join(broadcast(byFile), col(GfCol) === col("__cf_file"))
          .drop(GfCol, GposCol, "__cf_file")
          .withColumn("_change_type", lit("insert"))
      }
      run = Nil
    }
    var prev = fromVersion
    var prevF =
      if (fromVersion == 0) Set.empty[String]
      else chains(fromVersion).files.toSet
    walk.foreach { v =>
      val curF = chains(v).files.toSet
      val mLines = chains(v).lines
      val common = prevF intersect curF
      val dvDrift = prev != 0 && common.nonEmpty && {
        val a = chains(prev).dv; val b = chains(v).dv
        common.exists(f => a.get(f) != b.get(f))
      }
      if ((prevF -- curF).isEmpty && !dvDrift)
        run = (v, (curF -- prevF).toSeq.sorted) :: run
      else if (prev == v - 1 &&
          opOf(mLines).exists(ContentIdenticalOps)) {
        // a declared content-identical rewrite: zero change rows by
        // construction — no scan, and it does not break a run's
        // neighbors into separate scans more than necessary
        flushRun()
      } else if (prev == v - 1 && (prevF -- curF).isEmpty &&
          opOf(mLines).exists(DvAccretiveOps)) {
        // DV-accretive DML: inserts are the appended image files
        // (live rows under v's vectors), deletes are the rows at the
        // newly vectored positions of the drifted files — read ONCE
        // positionally, instead of diff's two-sided exceptAll over
        // the drifted files' full bytes
        flushRun()
        val appended = (curF -- prevF).toSeq.sorted
        val ins =
          if (appended.isEmpty) None
          else Some(at.at(v).scan(appended)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        val prevDv = chains(prev).dv
        val curDv = chains(v).dv
        val drifted = (prevF intersect curF)
          .filter(f => prevDv.get(f) != curDv.get(f)).toSeq.sorted
        val del =
          if (drifted.isEmpty) None
          else {
            val newPos = dvNewPositions(spark, root, prevDv, curDv,
              drifted, physicalPaths(fs, root, drifted).toMap)
            Some(scanWithMeta(at.at(v), drifted, prev)
              .join(newPos, col(GfCol) === col("__dv_file") &&
                col(GposCol) === col("__dv_pos"))
              .drop(GfCol, GposCol, "__dv_file", "__dv_pos")
              .withColumn("_change_type", lit("delete"))
              .withColumn("_commit_version", lit(v)))
          }
        (ins.toSeq ++ del.toSeq)
          .reduceOption(_.unionByName(_)).foreach { seg =>
            segs += (opOf(mLines) match {
              // every vectored row was UPDATED and every appended row
              // is its new image — total pairing, no keys needed
              case Some("update-light") => relabelAllAsUpdates(seg)
              // appended rows split update-postimage vs fresh insert
              // by whether their key was retired this commit
              case Some("merge-light") =>
                pairUpdateImages(seg, dmlKeysOf(mLines))
              case _ => seg // delete-light: pure deletes
            })
          }
      } else {
        flushRun()
        val d = diffAt(at.at(v), prev)
          .withColumnRenamed("change_type", "_change_type")
          .withColumn("_commit_version", lit(v))
        // CoW DML (and DV DML that dropped whole files, which lands
        // here): relabel the diff into update images where pairing is
        // knowable; everything else keeps insert|delete
        segs += (opOf(mLines) match {
          case Some("update") | Some("update-light") =>
            relabelAllAsUpdates(d)
          case Some("merge") | Some("merge-mixed") | Some("merge-light") =>
            pairUpdateImages(d, dmlKeysOf(mLines))
          case _ => d
        })
      }
      prev = v
      prevF = curF
    }
    flushRun()
    if (segs.isEmpty)
      at.table.limit(0)
        .withColumn("_change_type", lit(null).cast(StringType))
        .withColumn("_commit_version", lit(null).cast(IntegerType))
    else segs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Per-file inventory of `version` (default: current): one row per
    * live data file with its bytes, row count, deletion-vector'd
    * rows, and per-column min/max spans — what the operator reads
    * when asking "does my cluster key actually prune?" (tight,
    * near-disjoint spans prune; overlapping ones say run OPTIMIZE).
    * Pure metadata, driver-sized like every manifest surface here —
    * no data byte is opened. SQL: `CALL files(table => ...)`. */
  def files(spark: SparkSession, dir: String,
      version: Int = -1): DataFrame = {
    import spark.implicits._
    val chain = atOpt(spark, dir, version).getOrElse(throw
      new java.util.NoSuchElementException(s"no table under $dir")).chain
    chain.files.map { f =>
      val st = chain.stats.getOrElse(f, Map.empty)
      val span = st.toSeq.sortBy(_._1).map { case (c, cs) =>
        s"$c: ${cs.min.getOrElse("?")} .. ${cs.max.getOrElse("?")}" +
          (if (cs.nulls > 0) s" (${cs.nulls} null)" else "")
      }.mkString("; ")
      (f, chain.sizes.getOrElse(f, -1L), chain.rowsOf(f).getOrElse(-1L),
        chain.dv.get(f).map(_._2).getOrElse(0L), span)
    }.toDF("file", "bytes", "rows", "deleted_rows", "column_spans")
  }

  /** Integrity audit (the fsck of a snapshot table): verifies every
    * file of every RETAINED version exists with its commit-time byte
    * size, and reports orphaned data files no manifest references
    * (crash leftovers / vacuum candidates). Returns one row per
    * finding-worthy file: (file, status, expected_bytes, actual_bytes)
    * with status ∈ ok | missing | size_mismatch | unknown_size (file
    * committed by a pre-size writer) | orphan |
    * source_moved_or_dropped (a clone's absolute reference whose
    * source root is gone and left no `_moved` forwarding marker — the
    * source table was vacuumed, dropped, or physically renamed
    * without [[recordMove]]). Pure metadata — the
    * driver touches manifests and file listings, never data bytes, so
    * auditing a 100 TB table costs a directory walk. Read-only: the
    * repair for `missing`/`size_mismatch` is restoring the file or
    * overwriting from source; for `orphan`, [[vacuum]] or deletion. */
  def audit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsFor(spark, dir)
    val chains = new Chains(fs, root)
    val vs = versions(spark, dir)
    val referenced = scala.collection.mutable.LinkedHashMap[String, Long]()
    val rows = scala.collection.mutable.ArrayBuffer[(String, String, Long, Long)]()
    vs.foreach { v =>
      val sizes = chains(v).sizes
      val listed = chains(v).files
      // foreign (clone-source) refs resolve through _moved markers
      // exactly as reads do — but audit DIAGNOSES a dead unmarked
      // source (`source_moved_or_dropped`) instead of throwing: the
      // usual cause is the source table being vacuumed, dropped, or
      // physically renamed without a forwarding marker
      val foreignLive: Map[String, Option[String]] = listed
        .filterNot(ownedByRoot).flatMap(rootOfRef).distinct
        .map(r => r -> followMoved(fs.getConf, r)).toMap
      listed.foreach { f =>
        if (!referenced.contains(f)) {
          referenced(f) = sizes.getOrElse(f, -1L)
          val expected = sizes.getOrElse(f, -1L)
          val resolved: Option[String] =
            if (ownedByRoot(f)) Some(f)
            else rootOfRef(f).flatMap(r =>
              foreignLive(r).map(live => live + f.substring(r.length)))
          resolved match {
            case None =>
              rows += ((f, "source_moved_or_dropped", expected, -1L))
            case Some(rf) =>
              val p = new HPath(root, rf)
              val status =
                if (!fs.exists(p)) "missing"
                else if (expected < 0) "unknown_size"
                else if (fs.getFileStatus(p).getLen != expected)
                  "size_mismatch"
                else "ok"
              val actual =
                if (fs.exists(p)) fs.getFileStatus(p).getLen else -1L
              rows += ((f, status, expected, actual))
          }
        }
      }
    }
    // orphans: files under data/ that no retained manifest references —
    // crash leftovers (never committed) or post-vacuum stragglers
    val dataRoot = new HPath(root, DataDir)
    if (fs.exists(dataRoot)) {
      fs.listStatus(dataRoot).filter(_.isDirectory).foreach { d =>
        fs.listStatus(d.getPath)
          // _SUCCESS / .crc markers are write-protocol residue, not
          // data; only unreferenced PARQUET files are real orphans
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .foreach { st =>
            val rel = s"$DataDir/${d.getPath.getName}/${st.getPath.getName}"
            if (!referenced.contains(rel))
              rows += ((rel, "orphan", -1L, st.getLen))
          }
      }
    }
    rows.toSeq.toDF("file", "status", "expected_bytes", "actual_bytes")
  }

  /** The sidecar path a manifest metadata line references, if any —
    * `#bloom` lines carry the sidecar LAST, `#dv` lines carry it FIRST
    * after the data file. Shared by [[vacuum]] (dead-sidecar reaping)
    * and [[cleanOrphans]] (live-sidecar sparing): both must agree on
    * what "referenced" means or a sidecar can be deleted while a
    * retained manifest still points at it. */
  private def sidecarRefOf(l: String): Option[String] =
    if (l.startsWith(BloomLinePrefix)) l.split('\t') match {
      case Array(_, _, _, side) => Some(side)
      case _ => None
    }
    else if (l.startsWith(DvPrefix)) l.split('\t') match {
      case Array(_, _, side, _) => Some(side)
      case _ => None
    }
    else None

  /** Is this manifest file line a path the table root OWNS (relative —
    * staged under this root), as opposed to an absolute reference into
    * ANOTHER table's root written by [[shallowClone]]? Only owned files
    * are ever deleted by [[vacuum]] — a clone must never reap its
    * source's bytes. */
  private def ownedByRoot(f: String): Boolean =
    !f.startsWith("/") && !f.contains(":/")

  // ---- moved-root forwarding ------------------------------------------
  //
  // A shallow clone references its source's data files by ABSOLUTE
  // path (vacuum safety is ownership-based — see [[shallowClone]]).
  // If the source table's DIRECTORY is then physically moved (the SQL
  // catalog's `ALTER TABLE RENAME` moves the directory), every clone
  // ref dangles. [[recordMove]] leaves a `_moved` forwarding marker at
  // the old root, and every read path resolves foreign refs through
  // markers ([[resolveForeign]]): one metadata probe per DISTINCT
  // foreign root per scan — zero cost for non-clone tables, O(1)
  // driver-side for clones. Markers chain (rename A→B→C) with a hop
  // bound; a dead foreign root with NO marker fails the scan loudly
  // with the remedy instead of a bare file-not-found.

  private val MovedMarker = "_moved"

  /** Leave a forwarding marker at `oldDir` pointing to `newDir` —
    * call IMMEDIATELY after physically moving a table directory, so
    * shallow clones holding absolute references into the old root
    * keep resolving. The marker is a plain file (`_moved`) holding
    * the fully qualified new root; it does NOT make the old path a
    * table (`_manifests` is the existence test). Creating a NEW table
    * at the old path later shadows the marker — avoid reusing a
    * renamed table's old name while clones of it live. */
  def recordMove(spark: SparkSession, oldDir: String, newDir: String): Unit = {
    val (ofs, oldRoot) = fsFor(spark, oldDir)
    val (nfs, newRoot) = fsFor(spark, newDir)
    ofs.mkdirs(oldRoot)
    val out = ofs.create(new HPath(oldRoot, MovedMarker), true)
    try out.write(nfs.makeQualified(newRoot).toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** The table root a manifest file reference lives under — refs are
    * `<root>/data/<commit-uuid>/<name>`, so the root is the prefix
    * before the LAST `/data/` that leaves exactly two components
    * after it (a root path may itself contain a `data` segment). */
  private def rootOfRef(ref: String): Option[String] = {
    var i = ref.lastIndexOf(s"/$DataDir/")
    while (i > 0) {
      if (ref.substring(i + 1).split('/').length == 3)
        return Some(ref.substring(0, i))
      i = ref.lastIndexOf(s"/$DataDir/", i - 1)
    }
    None
  }

  /** Follow `_moved` markers from `root` to the live root (bounded
    * hops). Some(root) if the root is live as-is; None if neither
    * live nor marked (dropped / vacuumed / renamed pre-marker). */
  private def followMoved(conf: org.apache.hadoop.conf.Configuration,
      root: String): Option[String] = {
    var cur = root
    var hops = 0
    while (hops < 8) {
      val p = new HPath(cur)
      val fs = p.getFileSystem(conf)
      if (fs.exists(new HPath(p, ManifestDir))) return Some(cur)
      val marker = new HPath(p, MovedMarker)
      if (!fs.exists(marker)) return None
      val in = fs.open(marker)
      cur = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      hops += 1
    }
    None
  }

  /** Resolve foreign (absolute, clone-source) refs through `_moved`
    * forwarding markers. Owned (relative) refs pass through untouched
    * — the common case costs nothing. A foreign root that is neither
    * live nor marked fails loudly with the remedy: a bare
    * file-not-found from the scan would hide WHY the bytes are gone. */
  private def resolveForeign(fs: FileSystem,
      files: Seq[String]): Seq[String] = {
    val foreign = files.filterNot(ownedByRoot)
    if (foreign.isEmpty) return files
    val conf = fs.getConf
    val mapping = foreign.flatMap(rootOfRef).distinct.map { r =>
      followMoved(conf, r) match {
        case Some(live) => r -> live
        case None => throw new IllegalStateException(
          s"clone source root $r no longer exists and left no _moved " +
            "forwarding marker — the source table was dropped, " +
            "vacuumed, or physically renamed without Snapshots" +
            ".recordMove. Restore the source, or re-create this table " +
            "from a full copy of the data")
      }
    }.toMap
    files.map { f =>
      if (ownedByRoot(f)) f
      else rootOfRef(f).flatMap(r => mapping.get(r).filter(_ != r)
        .map(live => live + f.substring(r.length))).getOrElse(f)
    }
  }

  /** DESCRIBE HISTORY: one row per committed version, newest first —
    * version, committed_at (manifest mtime), operation (the `#op` tag;
    * `unknown` for pre-tag commits), kind (full|delta manifest),
    * n_added / n_removed (file-level change vs the previous version),
    * n_files (total after the commit), bytes_added (commit-time sizes
    * of the added files). Pure manifest metadata — nothing scanned;
    * each version resolves on top of its predecessor's chain, so every
    * manifest is opened once. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (fs, root) = fsFor(spark, dir)
    val chains = new Chains(fs, root)
    val vs = versions(spark, dir)
    val retained = vs.toSet
    var prev = Set.empty[String]
    val rows = vs.map { v =>
      val chain = chains(v)
      val resolved = chain.files
      val cur = resolved.toSet
      // the file-level delta is only meaningful against the TRUE
      // previous version: after a vacuum the oldest surviving commit
      // (and any chain-closure gap) has no retained v-1, and a delta
      // against the prior RETAINED version would attribute every
      // carried file to the wrong operation — emit NULL deltas there.
      // v == 1 is genesis: its delta against the empty table is real.
      val haveDelta = v == 1 || retained.contains(v - 1)
      val added = cur -- prev
      val removed = (prev -- cur).size
      val bytesAdded = added.toSeq.flatMap(chain.sizes.get).sum
      val ts = new java.sql.Timestamp(
        fs.getFileStatus(manifestPath(root, v)).getModificationTime)
      val kind = if (chain.baseVersion.nonEmpty) "delta" else "full"
      prev = cur
      (v, ts, opOf(chain.lines).getOrElse("unknown"), kind,
        if (haveDelta) Some(added.size) else None,
        if (haveDelta) Some(removed) else None,
        resolved.size,
        if (haveDelta) Some(bytesAdded) else None)
    }
    rows.toDF("version", "committed_at", "operation", "kind", "n_added",
        "n_removed", "n_files", "bytes_added")
      .orderBy(col("version").desc)
  }

  /** SHALLOW CLONE: commit `srcDir`'s content (at `version`, default
    * latest) as version 1 of a NEW table at `dstDir` — ZERO data bytes
    * copied or read. The clone's manifest references the source's
    * immutable data files by fully qualified absolute path, with the
    * source's schema, stats, bloom sidecars, tombstones, and CHECK
    * constraints carried — a 100 TB dev/test/experiment branch for the
    * cost of one manifest write. The two tables then diverge freely:
    * clone writes stage under the CLONE's root (the source is never
    * touched), and the clone's [[vacuum]] deletes only files it owns —
    * never source bytes. Lakehouse-standard caveat, loud here too:
    * vacuuming the SOURCE can reap files the clone still references
    * ([[audit]] on the clone reports them `missing`); run
    * [[compact]]/[[optimize]] on the clone to materialize it into a
    * self-contained table. Physically MOVING the source directory
    * (the SQL catalog's `ALTER TABLE RENAME`) is safe only when a
    * `_moved` forwarding marker is left behind ([[recordMove]] — the
    * catalog writes it automatically); clone reads resolve through
    * the marker, and a dead unmarked source fails the scan loudly
    * with the remedy. Cloning a clone works — already-absolute
    * references pass through verbatim. */
  def shallowClone(spark: SparkSession, srcDir: String, dstDir: String,
      version: Int = -1): Int = {
    val (sfs, sroot) = fsFor(spark, srcDir)
    val v = if (version >= 0) version else currentVersion(spark, srcDir)
      .getOrElse(throw new java.util.NoSuchElementException(
        s"no committed version under $srcDir"))
    require(currentVersion(spark, dstDir).isEmpty,
      s"cannot clone into $dstDir: already a snapshot table")
    val src = new Chains(sfs, sroot)(v)
    val files = src.files
    def abs(rel: String): String =
      if (!ownedByRoot(rel)) rel // clone-of-clone: keep the original ref
      else sfs.makeQualified(new HPath(sroot, rel)).toString
    val meta = (src.fileLinesOf(files.toSet) ++
      dvLines(src.dv, files.toSet)).flatMap { l =>
      l.split('\t') match {
        case Array(kind, f, rest @ _*) =>
          // #bloom lines carry a sidecar path LAST, #dv lines carry one
          // FIRST after the file — absolutize both
          val fixed =
            if (kind == "#bloom" && rest.length == 2)
              Seq(kind, abs(f), rest.head, abs(rest(1)))
            else if (kind == "#dv" && rest.length == 2)
              Seq(kind, abs(f), abs(rest.head), rest(1))
            else kind +: abs(f) +: rest
          Some(fixed.mkString("\t"))
        case _ => None
      }
    }
    val carried = src.meta
    val header = carried.schema.map(schemaHeader).toSeq ++ carried.header ++
      opHeader("clone") ++ meta
    val (dfs, droot) = fsFor(spark, dstDir)
    if (!casManifest(dfs, droot, 1, files.map(abs), header))
      throw new java.util.ConcurrentModificationException(
        s"clone into $dstDir lost the commit race")
    1
  }

  /** What a [[foldDeletionVectors]] pass did. */
  final case class DvFoldResult(version: Int, foldedFiles: Int,
    positionsRetired: Long, untouchedFiles: Int)

  /** Retire HIGH-DEBT deletion vectors: every file whose deleted
    * positions exceed `maxDeletedFraction` of its original rows is
    * rewritten — with its vector applied — into fresh vector-free
    * bytes; every other file (and its vector) carries untouched, by
    * name. Perpetual trickle DML accretes vectors, and every read
    * pays their anti-join forever; a full [[compact]]/[[optimize]]
    * retires them at whole-table cost, while this is O(over-threshold
    * files) — the maintenance middle ground, the lakehouse
    * "purge"/"rewrite_data_files" shape. ONE atomic commit
    * (`dv-fold`), content-identical by construction, OCC like
    * [[compact]] (run quiescent or catch the race). */
  def foldDeletionVectors(spark: SparkSession, dir: String,
      maxDeletedFraction: Double = 0.1,
      expectedVersion: Int = -1): DvFoldResult = {
    require(maxDeletedFraction > 0 && maxDeletedFraction < 1,
      s"maxDeletedFraction must be in (0, 1), got $maxDeletedFraction")
    maintenance(spark, dir, expectedVersion, "fold") { at =>
      import at.{chain, v}
      val files = chain.files
      val fileSet = files.toSet
      val dv = chain.dv.filter { case (f, (_, n)) =>
        n > 0 && fileSet.contains(f)
      }
      val target = dv.filter { case (f, (_, n)) =>
        // no recorded row count (pre-stats writer): over-threshold by
        // definition unknowable — fold it, the safe-and-finite choice
        chain.rowsOf(f) match {
          case Some(rows) if rows > 0 => n.toDouble / rows > maxDeletedFraction
          case _ => true
        }
      }
      if (target.isEmpty) DvFoldResult(v, 0, 0, files.size)
      else {
        val folded = target.keys.toSeq.sorted
        // the read applies the vectors — the rewrite IS the fold
        DvFoldResult(commitOn(at, "dv-fold", at.meta,
          Some(stageAt(at, at.scan(folded))), Some(folded)), folded.size,
          target.values.map(_._2).sum, files.size - folded.size)
      }
    }
  }

  /** What one [[maintain]] pass did. */
  final case class MaintainResult(compactedTo: Option[Int],
    versionsDropped: Int, filesDeleted: Int, orphansDeleted: Int,
    dvFoldedFiles: Int = 0, reanalyzedTo: Option[Int] = None)

  /** The one-call maintenance policy an append-heavy (streaming) table
    * needs on a schedule: compact when the file count crosses
    * `maxFiles` (thousands of tiny per-epoch commits are the failure
    * mode of every streaming sink), then retire history beyond
    * `keepVersions`, then reclaim aged crash orphans. Each step is its
    * own atomic commit/deletion with the same guarantees as calling
    * [[compact]]/[[vacuum]]/[[cleanOrphans]] directly; run it when the
    * table is quiescent (a racing writer makes the compact step throw,
    * like compact itself — the vacuum/orphan steps still ran-or-not
    * atomically per file and are always safe to re-run).
    *
    * A table with declared [[clusterColumns]] (the `cluster.columns`
    * property, e.g. set by `CREATE TABLE ... PARTITIONED BY` through
    * the SQL catalog) compacts by OPTIMIZE on those keys instead of
    * blind concatenation — maintenance then not only bounds the file
    * count but keeps per-file stat ranges narrow, which is what makes
    * point DML and readWhere prune (BASELINE.md round 8: 1 file
    * touched under range vs 11). */
  def maintain(spark: SparkSession, dir: String, maxFiles: Int = 64,
      targetFiles: Int = 8, keepVersions: Int = 10,
      orphanOlderThanMs: Long = 24L * 3600 * 1000,
      dvFoldFraction: Double = 0.1): MaintainResult = {
    require(targetFiles >= 1 && maxFiles >= targetFiles,
      s"need maxFiles >= targetFiles >= 1, got $maxFiles/$targetFiles")
    val compacted = atOpt(spark, dir, -1).flatMap { at =>
      val v = at.v
      if (at.chain.files.size > maxFiles) {
        val cluster = clusterColumns(spark, dir)
        if (cluster.nonEmpty) {
          // multi-key Z-order, or pure range layout for one key —
          // INCREMENTAL: only the files committed since the last
          // optimize re-cluster (the first pass lays out the whole
          // table and plants the marker); the nightly loop pays
          // O(new debt), never O(table)
          val r = optimizeIncremental(spark, dir, cluster, targetFiles,
            expectedVersion = v)
          if (r == v) None else Some(r)
        } else Some(compact(spark, dir, targetFiles, expectedVersion = v))
      } else None
    }
    // fold over-threshold deletion vectors — trickle-DML debt retired
    // at O(debt) cost, not O(table). Runs even after the clustering
    // pass above: an INCREMENTAL optimize carries already-clustered
    // files untouched, vectors included (only a full compact retires
    // them all); folding files the pass just rewrote is a free no-op
    // (their vectors are gone, nothing crosses the threshold)
    val folded =
      foldDeletionVectors(spark, dir, dvFoldFraction).foldedFiles
    // automated maintenance CLIPS to the consumer floors instead of
    // refusing: a lagging checkpointed stream widens retention (the
    // graceful degradation), never turns the nightly job into an
    // error — resolved inside vacuum under ONE version listing, so a
    // racing commit cannot shift the keep window past a floor
    val (dropped, deleted) = vacuum(spark, dir, keepVersions,
      clipToConsumers = true)
    val orphans = cleanOrphans(spark, dir, orphanOlderThanMs)
    // opt-in statistics refresh: `analyze.maxDriftPct=N` re-ANALYZEs
    // here once live rows drift past N% of the stored stats — the
    // nightly loop is where an operator expects stats upkeep to live
    val reanalyzed = tableProperties(spark, dir)
      .get(AnalyzeMaxDriftKey).flatMap(_.toDoubleOption)
      .flatMap(th => analyzeIfStale(spark, dir, th).map(_.version))
    MaintainResult(compacted, dropped, deleted, orphans, folded,
      reanalyzed)
  }

  /** Delete orphaned data files — parquet files under `data/` that NO
    * retained manifest references (staging dirs of crashed commits,
    * post-vacuum stragglers) — and any commit dir left empty. The
    * missing half of [[vacuum]]: vacuum reaps files of DROPPED
    * versions, but a commit that died before its manifest CAS leaves
    * files no version ever referenced, invisible to readers yet
    * accumulating storage forever on a long-lived table.
    *
    * `olderThanMs` is the safety window (default 24 h): a file younger
    * than it is spared, because an IN-FLIGHT commit's staged files are
    * indistinguishable from crash garbage until its manifest lands —
    * deleting them would break the commit mid-stage. Same discipline
    * as the lakehouse formats' uncommitted-file retention. Sidecar
    * (non-parquet, underscore-hidden) files of an orphaned commit dir
    * are reclaimed with it. Returns the number of files deleted. */
  def cleanOrphans(spark: SparkSession, dir: String,
      olderThanMs: Long = 24L * 3600 * 1000): Int = {
    val (fs, root) = fsFor(spark, dir)
    val chains = new Chains(fs, root)
    val vs = versions(spark, dir)
    val live = vs.flatMap(chains(_).files).toSet
    // live SIDECARS too: a deletion-vector commit stages `_dv.*.bin`
    // files in a parquet-less commit dir, and a bloom index lives
    // beside data files other manifests own — a dir holding a sidecar
    // any retained manifest references is NOT residue, even though it
    // contains zero referenced parquet. (Every manifest a retained
    // delta resolves through is itself retained — vacuum keeps the
    // chain closure — so the union of retained versions' own lines
    // covers all chain-referenced sidecars.)
    val liveSidecars = vs
      .flatMap(v => chains(v).lines.flatMap(sidecarRefOf))
      .toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val dataRoot = new HPath(root, DataDir)
    if (!fs.exists(dataRoot)) return 0
    var deleted = 0
    fs.listStatus(dataRoot).filter(_.isDirectory).foreach { d =>
      def relOf(name: String) = s"$DataDir/${d.getPath.getName}/$name"
      val entries = fs.listStatus(d.getPath)
      val parquets = entries.filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
      val orphaned = parquets.filter { st =>
        !live.contains(relOf(st.getPath.getName)) &&
          st.getModificationTime < cutoff
      }
      orphaned.foreach { st => fs.delete(st.getPath, false); deleted += 1 }
      // a commit dir with no referenced parquet left is pure residue
      // (_SUCCESS markers, orphan bloom sidecars): reclaim it whole —
      // but only once every parquet inside was provably orphaned,
      // nothing younger than the window remains, and NO file inside is
      // a sidecar the current manifest chain still references
      val keptParquet = parquets.length - orphaned.length
      val rest = fs.listStatus(d.getPath)
      val youngRest = rest.exists(_.getModificationTime >= cutoff)
      val liveRest = rest.exists(st =>
        st.isFile && liveSidecars.contains(relOf(st.getPath.getName)))
      if (keptParquet == 0 && !youngRest && !liveRest &&
        rest.forall(_.isFile))
        fs.delete(d.getPath, true)
    }
    deleted
  }

  /** Time-based retention — [[vacuum]] by AGE, the production
    * spelling (`retain N hours`): keep every version COMMITTED within
    * the window (manifest mtime, the same instant `TIMESTAMP AS OF`
    * resolves against) plus always the current one, vacuum the rest.
    * Commit instants are monotone per table, so the young versions
    * are exactly the trailing ones and the count reduces to
    * [[vacuum]]'s keep-last-K — chain closure, sidecar reaping and
    * delete ordering all apply unchanged. */
  def vacuumOlderThan(spark: SparkSession, dir: String,
      retainMs: Long, force: Boolean = false,
      dryRun: Boolean = false): (Int, Int) = {
    require(retainMs >= 0, "retention must be non-negative")
    val (fs, root) = fsFor(spark, dir)
    val cutoff = System.currentTimeMillis() - retainMs
    val young = versions(spark, dir).count(v =>
      fs.getFileStatus(manifestPath(root, v)).getModificationTime
        >= cutoff)
    vacuum(spark, dir, math.max(young, 1), force, dryRun = dryRun)
  }

  // ---- streaming-consumer retention floors --------------------------

  private val ConsumersDir = "_consumers"

  /** A streaming consumer's recorded retention floor: the oldest
    * version its checkpointed restart still replays from. */
  final case class ConsumerFloor(id: String, version: Int, note: String)

  /** Record (best-effort, swallows IO failures — a missing marker
    * only weakens the vacuum guard, never a read) that the streaming
    * consumer `id` still needs `version` retained. Written by the
    * snapshot stream source at creation and at each batch commit;
    * [[vacuum]] refuses to drop past any recorded floor unless
    * forced, turning the production outage (checkpointed stream
    * restarts into a vacuumed base — loud `v#n#h` failure at the
    * reader) into a refused maintenance command at the operator. */
  def recordConsumerFloor(spark: SparkSession, dir: String, id: String,
      version: Int, note: String = ""): Unit = {
    val (fs, root) = fsFor(spark, dir)
    try {
      val d = new HPath(root, ConsumersDir)
      fs.mkdirs(d)
      // write-temp-then-rename: a reader (the vacuum floor listing)
      // must always see a COMPLETE marker — an in-place truncating
      // create exposes a window where the guard reads a half-written
      // file, parses it to None and proceeds to drop versions a live
      // stream still needs
      val tmp = new HPath(d, s".$id.tmp${System.nanoTime()}")
      val out = fs.create(tmp, true)
      try out.write(s"$version\t${enc(note)}".getBytes("UTF-8"))
      finally out.close()
      val dst = new HPath(d, id)
      if (!fs.rename(tmp, dst)) {
        // filesystem without overwriting rename: delete-then-rename
        // shrinks the race to a gap between two metadata ops (and a
        // missing marker at worst weakens THIS consumer's guard once)
        fs.delete(dst, false)
        if (!fs.rename(tmp, dst)) fs.delete(tmp, false)
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Every recorded consumer floor of the table. Markers persist while
    * a consumer is DOWN — that is the point (its checkpoint still
    * needs the versions); a consumer gone for good leaves a stale
    * marker the operator clears ([[clearConsumerFloor]]) or overrides
    * with `force`. A missing `_consumers` dir is simply "no floors";
    * an IO FAILURE listing or reading it propagates — the caller is
    * the destructive vacuum guard, which must fail CLOSED (an
    * unreadable marker treated as absent would silently drop
    * versions a live stream still needs). An individual marker that
    * parses to garbage is skipped (a half-written file only ever
    * weakens its own consumer's protection). */
  def consumerFloors(spark: SparkSession, dir: String): Seq[ConsumerFloor] = {
    val (fs, root) = fsFor(spark, dir)
    val d = new HPath(root, ConsumersDir)
    if (!fs.exists(d)) return Nil
    // dot-prefixed names are in-flight temp markers ([[recordConsumerFloor]]
    // writes `.id.tmp*` then renames) — a crash-orphaned temp must not
    // become a phantom floor that blocks vacuum forever
    fs.listStatus(d).filter(st => st.isFile &&
      !st.getPath.getName.startsWith(".")).toSeq.flatMap { st =>
      val in = fs.open(st.getPath)
      val s = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim finally in.close()
      s.split('\t') match {
        case Array(v, n) if v.forall(_.isDigit) && v.nonEmpty =>
          Some(ConsumerFloor(st.getPath.getName, v.toInt, dec(n)))
        case Array(v) if v.forall(_.isDigit) && v.nonEmpty =>
          Some(ConsumerFloor(st.getPath.getName, v.toInt, ""))
        case _ => None
      }
    }
  }

  /** Remove a consumer's floor marker (the consumer is gone for good).
    * The id must be a plain marker NAME — the validation is what keeps
    * the SQL-exposed procedure from deleting anything outside
    * `_consumers/` via a path-shaped id. */
  def clearConsumerFloor(spark: SparkSession, dir: String,
      id: String): Boolean = {
    requireRefName("consumer", id)
    val (fs, root) = fsFor(spark, dir)
    fs.delete(new HPath(root, s"$ConsumersDir/$id"), false)
  }

  // ---- version tags (named immutable refs) ---------------------------

  private val RefsDir = "_refs"

  /** A named, immutable pointer to a committed version — the
    * "training-data-v1" handle: `VERSION AS OF 'name'` reads it, and
    * [[vacuum]] NEVER drops a tagged version (drop the tag first) —
    * at 100 TB the tag is what makes "the exact snapshot that model
    * was trained on" survive routine retention. */
  final case class TableTag(name: String, version: Int,
    createdMs: Long, note: String)

  /** Create tag `name` at `version` (default: current). Tags are
    * immutable — re-pointing is dropTag + createTag, so a tag name in
    * a pipeline config can never silently mean different bytes.
    * Numeric names refuse: `VERSION AS OF` must stay unambiguous. */
  /** Valid ref names: no leading dot (dot-prefixed files are in-flight
    * temp markers the listings skip), no path separators (a name is a
    * FILE under the refs dir — anything else is a traversal). */
  private def requireRefName(kind: String, name: String): Unit =
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"$kind name must be [A-Za-z0-9][A-Za-z0-9._-]*, got '$name'")

  def createTag(spark: SparkSession, dir: String, name: String,
      version: Int = -1, note: String = ""): TableTag = {
    requireRefName("tag", name)
    require(!name.forall(_.isDigit),
      s"tag name '$name' is all digits — it would be ambiguous with " +
        "a version number in VERSION AS OF")
    val (fs, root) = fsFor(spark, dir)
    val vs = versions(spark, dir)
    val v = if (version >= 0) version else vs.lastOption.getOrElse(
      throw new java.util.NoSuchElementException(s"no table under $dir"))
    require(vs.contains(v),
      s"cannot tag version $v of $dir: not retained " +
        s"(${vs.headOption.getOrElse(-1)}..${vs.lastOption.getOrElse(-1)})")
    val d = new HPath(root, RefsDir)
    fs.mkdirs(d)
    val dst = new HPath(d, name)
    require(!fs.exists(dst),
      s"tag '$name' already exists on $dir — tags are immutable; " +
        "dropTag first to re-point it")
    val t = TableTag(name, v, System.currentTimeMillis(), note)
    // write-temp-then-rename, like the consumer floors: readers (the
    // vacuum guard) must never see a half-written marker
    val tmp = new HPath(d, s".$name.tmp${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(s"${t.version}\t${t.createdMs}\t${enc(t.note)}"
      .getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"tag '$name' on $dir lost a creation race")
    }
    // close the create-vs-vacuum race: a vacuum that listed the refs
    // BEFORE this marker landed can still be deleting `v` — re-check
    // the version is retained AFTER the marker is visible, and if it
    // vanished, retract the dangling tag and fail loudly (the
    // consumer-floor discipline: never publish a guard that guards
    // nothing)
    if (!versions(spark, dir).contains(v)) {
      fs.delete(dst, false)
      throw new java.util.ConcurrentModificationException(
        s"tag '$name' on $dir lost a race with a concurrent vacuum: " +
          s"version $v was dropped before the tag became visible — " +
          "re-create the tag at a retained version")
    }
    t
  }

  /** Remove tag `name`; its version becomes vacuumable again. */
  def dropTag(spark: SparkSession, dir: String, name: String): Boolean = {
    requireRefName("tag", name)
    val (fs, root) = fsFor(spark, dir)
    fs.delete(new HPath(root, s"$RefsDir/$name"), false)
  }

  /** Every tag of the table. A missing `_refs` dir is "no tags"; an
    * IO failure listing propagates (the caller may be the destructive
    * vacuum guard, which must fail CLOSED); an unparsable marker is
    * skipped (it only weakens its own tag's protection). */
  def tags(spark: SparkSession, dir: String): Seq[TableTag] = {
    val (fs, root) = fsFor(spark, dir)
    val d = new HPath(root, RefsDir)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).filter(st => st.isFile &&
      !st.getPath.getName.startsWith(".")).toSeq.flatMap(st =>
      parseTagMarker(st.getPath.getName,
        readSmall(fs, st.getPath)))
  }

  private def readSmall(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  private def parseTagMarker(name: String, s: String): Option[TableTag] =
    s.split('\t') match {
      case Array(v, c, n) if v.nonEmpty && v.forall(_.isDigit) &&
          c.nonEmpty && c.forall(_.isDigit) =>
        Some(TableTag(name, v.toInt, c.toLong, dec(n)))
      case Array(v, c) if v.nonEmpty && v.forall(_.isDigit) &&
          c.nonEmpty && c.forall(_.isDigit) =>
        Some(TableTag(name, v.toInt, c.toLong, ""))
      case _ => None
    }

  /** An integer commit number or a tag name → the version it names —
    * the ONE resolution both `VERSION AS OF` spellings share (SQL
    * catalog and the path reader's `versionAsOf` option); a miss
    * names the available tags. */
  def resolveVersionRef(spark: SparkSession, dir: String,
      ref: String): Int =
    ref.toIntOption.getOrElse(
      versionOfTag(spark, dir, ref).getOrElse(
        throw new IllegalArgumentException(
          s"'$ref' is neither an integer commit number nor a tag of " +
            s"$dir (tags: ${tags(spark, dir).map(_.name).sorted
              .mkString(", ")})")))

  /** The version tag `name` points to, if the tag exists — ONE open
    * of the single marker file, never a listing (this sits on the
    * `VERSION AS OF '<tag>'` read path). */
  def versionOfTag(spark: SparkSession, dir: String,
      name: String): Option[Int] = {
    if (!name.matches("[A-Za-z0-9][A-Za-z0-9._-]*")) return None
    val (fs, root) = fsFor(spark, dir)
    val p = new HPath(root, s"$RefsDir/$name")
    if (!fs.exists(p)) None
    else parseTagMarker(name, readSmall(fs, p)).map(_.version)
  }

  /** The floors that BIND against the retained version list `vs`:
    * floor 0 (a fresh stream that replays full history — changeFeed
    * from 0 never fails loudly, so vacuuming past it would silently
    * CHANGE the replayed batch) clamps to the oldest retained
    * version; floors in (0, vs.head) are already broken (that reader
    * fails loudly regardless) and do not bind. */
  private def bindingFloors(spark: SparkSession, dir: String,
      vs: Seq[Int]): Seq[ConsumerFloor] =
    consumerFloors(spark, dir)
      .map(f => if (f.version == 0 && vs.nonEmpty)
        f.copy(version = vs.head) else f)
      .filter(f => vs.headOption.exists(f.version >= _))

  // ---- COPY INTO (idempotent file-level ingestion) -------------------

  private val IngestDir = "_ingest"
  private val IngestedPrefix = "#ingested\t"

  /** What a [[copyInto]] run did. `version` is the committed version
    * (or the current one when nothing new was found — `filesLoaded`
    * 0 means NO commit happened). When nothing fresh was found AND
    * the table does not exist yet, `version` is 0 — an explicit
    * "no table, no commit" sentinel, NOT a real version (committed
    * versions start at 1); the `CALL copy_into` row surfaces the
    * same value, so a caller gating on "did anything land" must test
    * `filesLoaded > 0`, never `version > 0` alone. */
  final case class CopyIntoResult(version: Int, filesLoaded: Int,
    rowsLoaded: Long, filesSkipped: Int)

  /** Source-file paths this table has already ingested via
    * [[copyInto]]: the union of `#ingested` ledger lines in retained
    * manifests and the `_ingest/` sidecar markers [[vacuum]] rolls
    * dropped manifests' lines into. */
  def ingestedFiles(spark: SparkSession, dir: String): Set[String] = {
    val (fs, root) = fsFor(spark, dir)
    ingestedOf(fs, root, versions(spark, dir))
  }

  /** The paths `#ingested` lines of version `v`'s PHYSICAL manifest
    * record (delta manifests are not chain-resolved here — each
    * commit's ledger lives in its own file; the consumer unions over
    * every retained version). */
  private def ingestedLinesOf(chain: Chain): Seq[String] =
    chain.lines.collect {
      case l if l.startsWith(IngestedPrefix) =>
        dec(l.substring(IngestedPrefix.length).split('\t')(0))
    }

  private def ingestedOf(fs: FileSystem, root: HPath,
      vs: Seq[Int]): Set[String] = {
    val chains = new Chains(fs, root)
    val fromManifests = vs.flatMap(v => ingestedLinesOf(chains(v)))
    val d = new HPath(root, IngestDir)
    val fromMarkers =
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).filter(st => st.isFile &&
        !st.getPath.getName.startsWith(".")).toSeq.flatMap(st =>
        readSmall(fs, st.getPath).split('\n').toSeq
          .map(_.trim).filter(_.nonEmpty)
          .map(l => dec(l.split('\t')(0))))
    (fromManifests ++ fromMarkers).toSet
  }

  /** Roll the `#ingested` ledger lines of the manifests `drop` is
    * about to delete into an `_ingest/` sidecar marker — the
    * loaded-file ledger must outlive retention, or the first
    * [[copyInto]] after a deep vacuum would re-load (duplicate)
    * everything the dropped manifests recorded. The marker name is
    * content-addressed, so a vacuum that crashed between this sync
    * and its manifest deletes re-runs into the same name (skip) and
    * duplicate entries across markers are harmless (the consumer is
    * a set union). Written temp-then-rename like every other sidecar
    * marker: readers never see a half-written ledger. */
  private def syncIngestMarkers(chains: Chains, drop: Seq[Int]): Unit = {
    import chains.{fs, root}
    val lines = drop.flatMap(v =>
      chains(v).lines.filter(_.startsWith(IngestedPrefix))
        .map(_.substring(IngestedPrefix.length)))
    if (lines.isEmpty) return
    val body = lines.distinct.sorted.mkString("\n")
    val digest = shortHash(body, 8)
    val d = new HPath(root, IngestDir)
    fs.mkdirs(d)
    val dst = new HPath(d, s"m$digest")
    if (fs.exists(dst)) return
    val tmp = new HPath(d, s".m$digest.tmp${System.nanoTime()}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, dst)) fs.delete(tmp, false) // racer wrote it
  }

  /** Idempotent, exactly-once file-level ingestion — SQL `COPY INTO`
    * (CALL copy_into): list the files under `source` (recursive, or
    * the `pattern` glob), skip every file a previous copyInto already
    * loaded, and append the rest as ONE commit whose manifest records
    * their names (`#ingested` ledger lines, O(batch) per commit) —
    * ledger and data land atomically, so a crash or retry anywhere
    * re-runs into a no-op instead of duplicate rows. File identity is
    * the fully-qualified path: a later in-place modification of a
    * loaded file is NOT re-loaded (the standard COPY INTO contract);
    * `force` re-loads everything listed. A concurrent copyInto racing
    * this one is detected per commit attempt against the actual base
    * ([[commitIngest]]'s `guard`) and resolves by re-diffing, never
    * by double-loading. The ledger survives [[vacuum]] (rolled into
    * `_ingest/` sidecars); [[shallowClone]] does NOT carry it — the
    * clone re-ingesting from its own sources is a deliberate act.
    *
    * Ingestion gets the FULL append trappings: generated/identity
    * columns materialize/assign, CHECK constraints enforce on the
    * incoming rows, declared clustering shapes the staged files,
    * schema evolution follows the append rules. Non-self-describing
    * formats (csv/json/text) with no explicit `schema` read with the
    * table's pinned schema minus generated/identity columns (those
    * are computed, never read). Hidden files (`.`/`_` segments) and
    * empty files are skipped, as Spark's own listings do. */
  def copyInto(spark: SparkSession, dir: String, source: String,
      format: String = "parquet",
      options: Map[String, String] = Map.empty,
      pattern: String = "",
      schema: Option[StructType] = None,
      force: Boolean = false): CopyIntoResult =
    dml(spark, dir, -1, "copyInto") { at =>
      val (fs, root) = fsFor(spark, dir)
      val srcRoot = new HPath(source)
      val sfs = srcRoot.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      require(sfs.exists(srcRoot), s"COPY INTO source not found: $source")
      val qRoot = sfs.makeQualified(srcRoot)
      val listed: Seq[(String, Long)] =
        if (pattern.nonEmpty)
          Option(sfs.globStatus(new HPath(qRoot, pattern)))
            .getOrElse(Array.empty).toSeq.filter(_.isFile)
            .map(st => (st.getPath.toString, st.getLen))
        else {
          val it = sfs.listFiles(qRoot, true)
          val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
          while (it.hasNext) {
            val st = it.next()
            buf += ((st.getPath.toString, st.getLen))
          }
          buf.toSeq
        }
      val rootStr = qRoot.toString.stripSuffix("/") + "/"
      val files = listed.filter { case (pth, len) =>
        len > 0 && {
          val rel = if (pth.startsWith(rootStr))
            pth.substring(rootStr.length) else new HPath(pth).getName
          !rel.split('/').exists(seg =>
            seg.startsWith(".") || seg.startsWith("_"))
        }
      }
      val curV = at.fold(0)(_.v)
      val already =
        if (force) Set.empty[String]
        else ingestedOf(fs, root, versions(spark, dir))
      val fresh = files.filterNot(f => already.contains(f._1))
        .sortBy(_._1)
      if (fresh.isEmpty) CopyIntoResult(curV, 0, 0L, files.size)
      else {
        val selfDescribing = Set("parquet", "orc", "avro")
        val rdr0 = spark.read.format(format).options(options)
        val rdr = schema match {
          case Some(s) => rdr0.schema(s)
          case None if selfDescribing.contains(format.toLowerCase) => rdr0
          case None => at.flatMap(_.pinned) match {
            case Some(pinned) =>
              val computed = (generatedOf(pinned).map(_._1.name) ++
                identityOf(pinned).map(_._1.name))
                .map(_.toLowerCase).toSet
              rdr0.schema(StructType(pinned.fields.toSeq
                .filterNot(f => computed.contains(f.name.toLowerCase))
                .map(f => StructField(f.name, f.dataType, nullable = true))))
            case None => throw new IllegalArgumentException(
              s"COPY INTO $dir from $format needs a schema: the format " +
                "is not self-describing and the table does not exist " +
                "yet — pass schema=... or create the table first")
          }
        }
        val df = rdr.load(fresh.map(_._1): _*)
        val batch = fresh.map(_._1).toSet
        val ledger = fresh.map { case (p2, len) =>
          s"$IngestedPrefix${enc(p2)}\t$len"
        }
        val (v, staged) = ingest(at, dir, df, "copy-into", ledger,
          guard = base => if (!force) {
            // commits that landed between our dedup read and this
            // attempt may include a RACING copyInto of the same
            // files — re-check just those versions' ledgers and
            // abort to the outer retry (re-diff), never double-load
            val dup =
              try (curV + 1 to base.getOrElse(0)).exists(nv =>
                ingestedLinesOf(new Chains(fs, root)(nv))
                  .exists(batch.contains))
              catch { case NonFatal(_) => true } // unprovable: re-diff
            if (dup) throw new java.util.ConcurrentModificationException(
              s"COPY INTO $dir lost a race: a concurrent copyInto " +
                "loaded part of this batch — re-diffing")
          })
        // per-file row counts already live in the staged stats lines
        // (#stats\t<rel>\t<rows>\t...) — no second pass over the batch.
        // A table with ZERO stat-eligible top-level columns (all
        // nested/binary) stages no #stats lines: count the batch then,
        // the rare shape paying one extra read over accounting lies
        val byFile = staged.stats.flatMap { l =>
          val f = l.split('\t')
          if (f.length >= 3 && f(0) == "#stats") Some(f(1) -> f(2).toLong)
          else None
        }.toMap
        val rowsLoaded =
          if (byFile.nonEmpty) byFile.values.sum else df.count()
        CopyIntoResult(v, fresh.size, rowsLoaded, files.size - fresh.size)
      }
    }

  // ---- CONVERT (in-place import of an existing parquet directory) ----

  /** What a [[convert]] did: the committed version (always 1), the
    * files manifested in place, and their exact total row count (from
    * parquet footers). */
  final case class ConvertResult(version: Int, files: Int, rows: Long)

  /** Convert an EXISTING parquet directory into a snapshot table IN
    * PLACE — zero data movement: list the directory's parquet files,
    * pin the merged schema, take a metadata-only stats pass over the
    * parquet FOOTERS (row counts exact; min/max for the numeric/
    * date/timestamp/boolean stat columns), and commit it all as a v1
    * full manifest next to the files. The first thing a migrating
    * user asks for: [[copyInto]] ingests by copying bytes through
    * Spark — on a 100 TB directory that is a 100 TB write, where this
    * is one footer sweep and one manifest. After conversion the full
    * surface applies (DML, time travel, OPTIMIZE, VACUUM — converted
    * files are root-relative, so a later rewrite lets vacuum reclaim
    * them like any staged file).
    *
    * Footer stats discipline — manifest stats double as ATTAINED
    * values for the stats-decided aggregates, so only exact-by-format
    * footer stats are taken: integral/float/double/boolean, DATE, and
    * TIMESTAMP (millis/micros) columns. STRING stats are deliberately
    * skipped (parquet writers may store truncated binary bounds with
    * no exactness flag) and float/double bounds with NaN are skipped —
    * those columns simply stay fail-open (no pruning) until the first
    * [[optimize]]/[[compact]] rewrite collects exact stats. A column
    * absent from a file's schema is recorded all-NULL (exact).
    *
    * HIVE-PARTITIONED layouts (`key=value` path segments) convert in
    * place too — the single most common pre-existing parquet shape.
    * Partition columns are inferred exactly as a direct
    * `spark.read.parquet(dir)` would infer them (the directory read IS
    * the probe, so types match Spark's partition inference to the
    * letter), appended to the pinned schema, and each file's
    * path-borne value is recorded as an EXACT per-file stat
    * (min = max = value, zero nulls — the ideal pruning stat, free).
    * Scans materialize the value per file from its path
    * (`convert.partitions` table property → [[scanWithMeta]]'s
    * constant fill), so partition-predicate queries file-prune through
    * the ordinary stats machinery and later CoW rewrites materialize
    * the columns physically. The partition keys are also declared as
    * the table's CLUSTERING keys (`cluster.columns`): the directory
    * layout encoded the user's access pattern, and an unclustered
    * compact/OPTIMIZE would otherwise mix shards and silently destroy
    * the pruning the layout provided (SET TBLPROPERTIES overrides).
    * Spark-written partitioned layouts repeat file BASENAMES across
    * partition directories (`k=1/part-00000-<uuid>`,
    * `k=2/part-00000-<uuid>`); every verb — the row-level
    * deletion-vector trio and change-feed attribution included — keys
    * files by their qualified PATH ([[physicalPaths]]), so the
    * converted table is a first-class citizen with no
    * rewrite-before-DML caveat.
    *
    * REFUSES loudly: a directory that is already a snapshot table
    * (read it directly), non-parquet files, inconsistent partition
    * directory structures (Spark's own inference refuses the same),
    * a partition key that needs path-escaping or collides with a file
    * column. Partition VALUES decode percent-only (Hive/Spark
    * `%XX` escaping; a literal `+` survives — form decoding would
    * read it as a space), identically at convert time and in the
    * scan-side codegen'd fill. Exactly-once under
    * races: the v1 manifest publishes through the commit CAS — a
    * concurrent convert/create loses loudly, never doubles. */
  def convert(spark: SparkSession, dir: String): ConvertResult = {
    val (fs, root) = fsFor(spark, dir)
    val qRoot = fs.makeQualified(root)
    val existing = versionsFs(fs, root)
    require(existing.isEmpty,
      s"$dir is already a snapshot table (at version " +
        s"${existing.lastOption.getOrElse(0)}) — read it directly")
    val it = fs.listFiles(qRoot, true)
    val listed = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    while (it.hasNext) {
      val st = it.next()
      listed += ((st.getPath.toString, st.getLen))
    }
    val rootStr = qRoot.toString.stripSuffix("/")
    val rels = listed.toSeq.flatMap { case (pth, len) =>
      if (!pth.startsWith(rootStr + "/")) None
      else {
        val rel = pth.substring(rootStr.length + 1)
        if (rel.split('/').exists(seg =>
          seg.startsWith(".") || seg.startsWith("_")) || len == 0L) None
        else Some((rel, len))
      }
    }.sortBy(_._1)
    require(rels.nonEmpty, s"convert: no data files under $dir")
    rels.foreach { case (rel, _) =>
      require(rel.endsWith(".parquet"),
        s"convert supports parquet layouts only — found '$rel' under " +
          s"$dir; use copyInto for other formats")
    }
    // hive partition layout: `key=value` directory segments, which
    // must form ONE consistent key sequence across every file (an
    // unpartitioned file among partitioned ones, or two different
    // key orders, is the same conflicting-structure shape Spark's own
    // inference refuses)
    val partSegsOf: Map[String, Seq[(String, String)]] =
      rels.map { case (rel, _) =>
        rel -> rel.split('/').dropRight(1).toSeq.filter(_.contains("="))
          .map { seg =>
            val i = seg.indexOf('=')
            (seg.substring(0, i), seg.substring(i + 1))
          }
      }.toMap
    val keySeqs = rels.map { case (rel, _) =>
      partSegsOf(rel).map(_._1) }.distinct
    require(keySeqs.size <= 1,
      s"convert refuses inconsistent partition structures under $dir: " +
        s"found key sequences ${keySeqs.take(3).map(_.mkString("/"))
          .mkString("; ")} — every file must sit under the same " +
        "key=value directory chain")
    val partKeys = keySeqs.headOption.getOrElse(Nil)
    partKeys.foreach(k => require(k.matches("[A-Za-z0-9_]+"),
      s"convert: partition key '$k' under $dir needs path escaping — " +
        "unsupported; rewrite through copyInto with the partition " +
        "columns materialized"))
    val fileSchema = allNullable(spark.read.option("mergeSchema", "true")
      .parquet(rels.map { case (r, _) => s"$rootStr/$r" }: _*).schema)
    partKeys.foreach(k =>
      require(!fileSchema.fieldNames.exists(_.equalsIgnoreCase(k)),
        s"convert: partition key '$k' under $dir collides with a " +
          "column of the data files — a read could not tell the " +
          "path-borne value from the stored one"))
    // partition column TYPES come from Spark's own inference — the
    // directory read is the probe, so a converted read matches a
    // direct spark.read.parquet(dir) to the letter
    val partFields: Seq[StructField] =
      if (partKeys.isEmpty) Nil
      else {
        val probed =
          try spark.read.parquet(rootStr).schema
          catch {
            case NonFatal(t) => throw new IllegalArgumentException(
              s"convert: Spark's partition inference refused the " +
                s"layout under $dir: ${t.getMessage}", t)
          }
        partKeys.map(k => probed.fields.find(_.name == k)
          .map(f => StructField(f.name, f.dataType, nullable = true))
          .getOrElse(throw new IllegalArgumentException(
            s"convert: the inferred schema of $dir carries no " +
              s"partition column '$k'")))
      }
    val schema = StructType(fileSchema.fields ++ partFields)
    val statFields = statColumns(fileSchema)
    val sessionTz = spark.sessionState.conf.sessionLocalTimeZone
    val (statLines, rows, rowsByFile) = footerStatLines(spark, rootStr,
      rels.map(_._1), statFields, sessionTz)
    // path-borne values become EXACT per-file stats (min = max =
    // value): free pruning on exactly the columns the layout was
    // partitioned by
    val partStatLines = rels.flatMap { case (rel, _) =>
      partFields.zip(partSegsOf(rel)).map { case (f, (_, rawSeg)) =>
        val decoded = percentDecode(rawSeg)
        val nRows = rowsByFile.getOrElse(rel, 0L)
        if (decoded == HiveDefaultPartition || nRows == 0L)
          s"#stats\t$rel\t$nRows\t${enc(f.name)}\t$nRows\tnull\tnull"
        else renderPartitionStat(rel, nRows, f, decoded, sessionTz)
      }
    }
    val sizeLines = rels.map { case (rel, len) => s"#size\t$rel\t$len" }
    // the layout's partition keys double as the table's CLUSTERING
    // declaration: the original directories gave those keys perfect
    // file-locality, and a later compact/OPTIMIZE would silently
    // destroy it (mixed shards -> wide per-file ranges -> no pruning)
    // unless the rewrite clusters by them. Declaring them also
    // force-includes the columns in every rewrite's stats collection
    // past the column cap. An explicit later SET TBLPROPERTIES
    // overrides as usual.
    val partProps =
      if (partFields.isEmpty) Map.empty[String, String]
      else Map(ConvertPartitionsKey -> StructType(partFields).json,
        "cluster.columns" -> partKeys.mkString(","))
    val header = opHeader("convert") ++ Seq(schemaHeader(schema)) ++
      propsHeader(partProps) ++ sizeLines ++ statLines ++ partStatLines
    if (!casManifest(fs, root, 1, rels.map(_._1), header))
      throw new java.util.ConcurrentModificationException(
        s"convert of $dir lost a race: another writer committed v1 " +
          "(a concurrent convert or create) — read the table instead")
    ConvertResult(1, rels.size, rows)
  }

  /** Table property naming the path-borne partition columns of a
    * CONVERTED hive layout (their StructType JSON, convert-time
    * physical names): [[scanWithMeta]] constant-fills them per file
    * from the file path. */
  private[graft] val ConvertPartitionsKey = "convert.partitions"
  private val HiveDefaultPartition = "__HIVE_DEFAULT_PARTITION__"

  /** One partition column's exact per-file stat line: the decoded
    * path value cast to the inferred type, rendered in the same
    * Spark-cast-string form [[StatsTracker]] writes (so the prune
    * layer's cast-back replays it identically); strings follow the
    * same truncation discipline. A value the type cast cannot read
    * (unreachable for inference-derived types) records all-NULL —
    * matching what the scan-side fill would produce. */
  private def renderPartitionStat(rel: String, rows: Long,
      f: StructField, decoded: String, sessionTz: String): String = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    f.dataType match {
      case StringType =>
        val mn = truncMinStat(decoded)
        val mx = truncMaxStat(decoded)
        s"#stats\t$rel\t$rows\t${enc(f.name)}\t0\tv:${enc(mn)}\t" +
          mx.map("v:" + enc(_)).getOrElse("null")
      case dt =>
        val casted =
          try Cast(Literal(
            org.apache.spark.unsafe.types.UTF8String.fromString(decoded),
            StringType), dt, Option(sessionTz)).eval()
          catch { case NonFatal(_) => null }
        if (casted == null)
          s"#stats\t$rel\t$rows\t${enc(f.name)}\t$rows\tnull\tnull"
        else {
          val rendered = Cast(Literal(casted, dt), StringType,
            Option(sessionTz)).eval().toString
          s"#stats\t$rel\t$rows\t${enc(f.name)}\t0\t" +
            s"v:${enc(rendered)}\tv:${enc(rendered)}"
        }
    }
  }

  /** Footer sweeps up to this many files run as a plain driver loop —
    * a handful of local metadata opens costs less than one job's
    * scheduling. Bigger sweeps (a whole convert) distribute over
    * executors. */
  private val FooterDriverMax = 32

  /** Per-file `#stats` lines from parquet FOOTERS — the convert-time
    * metadata pass for files graft did not write: O(files) footer
    * reads, no row data touched. Returns the lines and the exact total
    * row count. Emits a line only when it is EXACT (see [[convert]]);
    * anything uncertain is simply absent — absent stats never prune
    * and never feed a stats-decided aggregate. */
  private def footerStatLines(spark: SparkSession, rootStr: String,
      rels: Seq[String], fields: Seq[StructField],
      sessionTz: String): (Seq[String], Long, Map[String, Long]) = {
    if (rels.isEmpty) return (Nil, 0L, Map.empty)
    val want = fields.map(f => (f.name, f.dataType))
    val perFile: Seq[(String, Seq[String], Long)] =
      if (rels.size <= FooterDriverMax)
        rels.map(footerOfOne(rootStr, _,
          spark.sparkContext.hadoopConfiguration, want, sessionTz))
      else {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration)
        val slices = math.max(1, math.min(rels.size,
          spark.sparkContext.defaultParallelism * 2))
        spark.sparkContext.parallelize(rels, slices)
          .map(rel => footerOfOne(rootStr, rel, conf.value, want,
            sessionTz)).collect().toSeq
      }
    (perFile.flatMap(_._2), perFile.map(_._3).sum,
      perFile.map(x => x._1 -> x._3).toMap)
  }

  /** One file's footer sweep: object-level (NOT a local def — a local
    * def lifts to an instance method whose lambda captures the
    * enclosing frame and fails closure serialization on the
    * distributed path; module-method calls go through the static
    * MODULE$ reference instead). */
  private def footerOfOne(rootStr: String, rel: String,
      conf: org.apache.hadoop.conf.Configuration,
      want: Seq[(String, DataType)], sessionTz: String)
      : (String, Seq[String], Long) = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new HPath(s"$rootStr/$rel"), conf))
    val (lines, rows) =
      try footerLinesOf(rel, reader.getFooter, want, sessionTz)
      finally reader.close()
    (rel, lines, rows)
  }

  /** One file's exact `#stats` lines from its parsed footer. */
  private def footerLinesOf(rel: String,
      md: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      want: Seq[(String, DataType)],
      sessionTz: String): (Seq[String], Long) = {
    val blocks = md.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    // a LEGACY-rebased writer stored hybrid-Julian days/micros, which
    // every read rebases to proleptic Gregorian — the raw footer
    // bounds are not the values a scan sees, so a datetime column
    // with values gets no stats line (fail-open); row counts, other
    // columns and all-NULL lines are unaffected
    val legacyDatetime = md.getFileMetaData.getKeyValueMetaData
      .containsKey("org.apache.spark.legacyDateTime")
    def boundsUnreadable(dt: DataType): Boolean = legacyDatetime &&
      (dt == DateType || dt == TimestampType || dt == TimestampNTZType)
    val lines = want.flatMap { case (name, dt) =>
      if (rows == 0L)
        Some(s"#stats\t$rel\t0\t${enc(name)}\t0\tnull\tnull")
      else {
        val perBlock = blocks.map { b =>
          val hits = b.getColumns.asScala.filter(c =>
            c.getPath.size == 1 &&
              c.getPath.iterator.next.equalsIgnoreCase(name))
          // >1 = two physical columns differing only by case in one
          // file: ambiguous — encoded as a sentinel the caller fails
          // open on (None alone means "column absent", which is an
          // EXACT all-null record, not an unknown)
          if (hits.size > 1) return (Nil, rows) // unreachable shape:
          // bail out of the whole file's stats rather than guess
          hits.headOption
        }
        if (perBlock.forall(_.isEmpty))
          // the column is not in this file's schema: reads NULL-fill
          // it — an exact all-null record
          Some(s"#stats\t$rel\t$rows\t${enc(name)}\t$rows\tnull\tnull")
        else if (perBlock.exists(_.isEmpty)) None // mixed: unreachable
        else {
          val chunks = perBlock.map(_.get)
          val sts = chunks.map(_.getStatistics)
          if (sts.exists(s => s == null || !s.isNumNullsSet)) None
          else {
            val nulls = sts.map(_.getNumNulls).sum
            if (nulls == rows)
              Some(s"#stats\t$rel\t$rows\t${enc(name)}\t$rows\tnull\tnull")
            else {
              // chunks contributing values must all carry min/max
              val live = chunks.zip(sts).filter { case (c, s) =>
                s.getNumNulls < c.getValueCount
              }.map(_._2)
              if (live.exists(!_.hasNonNullValue) || boundsUnreadable(dt))
                None
              else footerMinMax(dt, chunks.head, live, sessionTz).map {
                case (mn, mx) =>
                  s"#stats\t$rel\t$rows\t${enc(name)}\t$nulls\t" +
                    s"v:${enc(mn)}\tv:${enc(mx)}"
              }
            }
          }
        }
      }
    }
    (lines, rows)
  }

  /** Reduce chunk min/max with the column's OWN parquet comparator
    * and render in the Spark-cast-string form the prune layer casts
    * back — only for (Spark type, parquet type) pairs whose footer
    * stats are exact by format. None = no stat (fail-open). */
  private def footerMinMax(dt: DataType,
      col0: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      live: Seq[org.apache.parquet.column.statistics.Statistics[_]],
      sessionTz: String): Option[(String, String)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    if (live.isEmpty) return None
    val pt = col0.getPrimitiveType
    val cmp = pt.comparator().asInstanceOf[java.util.Comparator[Any]]
    val mn = live.map(_.genericGetMin.asInstanceOf[Any])
      .reduce((a, b) => if (cmp.compare(a, b) <= 0) a else b)
    val mx = live.map(_.genericGetMax.asInstanceOf[Any])
      .reduce((a, b) => if (cmp.compare(a, b) >= 0) a else b)
    def signedInt: Boolean = pt.getLogicalTypeAnnotation match {
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
      case null => true
      case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
      case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => true
      case _ => false
    }
    (dt, pt.getPrimitiveTypeName) match {
      case (ByteType | ShortType | IntegerType | LongType,
          INT32 | INT64) if signedInt =>
        Some((mn.toString, mx.toString))
      // NaN bounds are order-meaningless; ZERO bounds are normalized by
      // the format (writers store min=-0.0/max=+0.0 whichever sign was
      // attained — PARQUET-1222), so a ±0.0 bound may not be an
      // ATTAINED value and the stats-decided aggregates would lie.
      // Both fail open.
      case (FloatType, FLOAT) =>
        val (a, b) = (mn.asInstanceOf[java.lang.Float],
          mx.asInstanceOf[java.lang.Float])
        if (a.isNaN || b.isNaN || a == 0.0f || b == 0.0f) None
        else Some((a.toString, b.toString))
      case (DoubleType, DOUBLE) =>
        val (a, b) = (mn.asInstanceOf[java.lang.Double],
          mx.asInstanceOf[java.lang.Double])
        if (a.isNaN || b.isNaN || a == 0.0d || b == 0.0d) None
        else Some((a.toString, b.toString))
      case (BooleanType, BOOLEAN) =>
        Some((mn.toString, mx.toString))
      case (DateType, INT32)
          if pt.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        def d(v: Any): String = java.time.LocalDate
          .ofEpochDay(v.asInstanceOf[java.lang.Integer].longValue).toString
        Some((d(mn), d(mx)))
      case (TimestampType | TimestampNTZType, INT64) =>
        pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            // millis/micros are exact in micros; NANOS would round
            // (a rounded bound is no longer an attained value) — skip
            val us: Long => Option[Long] = t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                v => Some(Math.multiplyExact(v, 1000L))
              case LogicalTypeAnnotation.TimeUnit.MICROS => v => Some(v)
              case _ => _ => None
            }
            // TimestampType strings cast back under the READER
            // session's timezone at prune time — render under the
            // convert session's zone (the same convention
            // StatsTracker follows via Spark's own cast); NTZ is a
            // wall clock, zone-independent by construction
            val zone = dt match {
              case TimestampNTZType => java.time.ZoneOffset.UTC
              case _ => java.time.ZoneId.of(sessionTz)
            }
            def fmt(v: Any): Option[String] =
              us(v.asInstanceOf[java.lang.Long].longValue).map { u =>
                java.time.Instant.ofEpochSecond(
                  Math.floorDiv(u, 1000000L),
                  Math.floorMod(u, 1000000L) * 1000L)
                  .atZone(zone).toLocalDateTime
                  .format(java.time.format.DateTimeFormatter
                    .ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS"))
              }
            for (a <- fmt(mn); b <- fmt(mx)) yield (a, b)
          case _ => None
        }
      // strings deliberately absent: parquet binary bounds may be
      // writer-truncated with no exactness flag — see [[convert]]
      case _ => None
    }
  }

  // ---- ANALYZE (column NDV statistics for the cost-based optimizer) --

  /** What an [[analyzeColumns]] run computed and committed. */
  final case class AnalyzeResult(version: Int, rowCount: Long,
    columns: Seq[String])

  /** One analyzed column's stored statistics (logical-name keyed at
    * [[analyzedStats]]): approximate distinct count, exact null
    * count, string length profile where applicable, and — when
    * `spark.sql.statistics.histogram.enabled` was on at ANALYZE time —
    * the equi-height histogram the cost-based optimizer prices skewed
    * predicates with. */
  final case class ColumnAnalysis(ndv: Long, nulls: Long,
    avgLen: Option[Long], maxLen: Option[Long],
    histogram: Option[org.apache.spark.sql.catalyst.plans.logical
      .Histogram] = None,
    min: Option[String] = None, max: Option[String] = None)

  private val AnalyzeRowsKey = "analyze.rowCount"
  private val AnalyzeAtKey = "analyze.atVersion"
  /** Opt-in table property: `analyze.onOptimize=true` re-runs ANALYZE
    * right after a rewrite maintenance commit (optimize family +
    * compact) — the one moment the whole table's bytes were just
    * read anyway, and exactly when frozen stats would otherwise start
    * drifting from the data. */
  val AnalyzeOnOptimizeKey = "analyze.onOptimize"
  private def analyzeColKey(phys: String) = s"analyze.col.${enc(phys)}"
  private def analyzeHistKey(phys: String) = s"analyze.hist.${enc(phys)}"

  /** `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` — one
    * distributed pass computing the exact row count plus per-column
    * approx distinct count (HLL++), exact null count, and (strings)
    * average/max byte lengths, committed as table properties in ONE
    * metadata-only commit. Properties key on PHYSICAL column names,
    * so the stats survive RENAME COLUMN like every other per-column
    * artifact here.
    *
    * The point is the COST-BASED OPTIMIZER: the catalog relation
    * ([[graft.sql.GraftTable]]) surfaces these through
    * `CatalogStatistics`, and with `spark.sql.cbo.enabled` +
    * `spark.sql.cbo.joinReorder.enabled` a multi-join query over
    * analyzed graft tables reorders by estimated cardinality instead
    * of executing in written order — at 100 TB, joining the two
    * selective tables first is routinely a 10-100× plan difference
    * AQE alone cannot recover (AQE re-plans within a shuffle stage;
    * it does not re-root a committed join tree).
    *
    * Advisory, the lakehouse convention: later DML does not
    * invalidate the stats — re-run after major drift (the analyzed
    * version is recorded under `analyze.atVersion` for
    * observability). Empty `columns` = every stat-eligible column up
    * to the [[StatsMaxCols]] cap. `histogramsOverride` forces the
    * histogram pass on/off regardless of the session flag — the
    * [[maybeReanalyze]] maintenance hook uses it to rebuild exactly
    * what the prior ANALYZE built. */
  def analyzeColumns(spark: SparkSession, dir: String,
      columns: Seq[String] = Nil,
      histogramsOverride: Option[Boolean] = None): AnalyzeResult =
    dmlOn(spark, dir, -1, "analyze") { at =>
      val schema = at.schema
      def eligible(f: StructField): Boolean = f.dataType match {
        case _: NumericType | StringType | DateType | TimestampType |
             TimestampNTZType | BooleanType => true
        case _ => false
      }
      val targets =
        if (columns.isEmpty)
          schema.fields.toSeq.filter(eligible).take(StatsMaxCols)
        else columns.map { c =>
          val f = schema.fields.find(_.name.equalsIgnoreCase(c))
            .getOrElse(throw new IllegalArgumentException(
              s"ANALYZE $dir: no column '$c' " +
                s"(have: ${schema.fieldNames.toSeq.mkString(", ")})"))
          require(eligible(f),
            s"ANALYZE $dir: column '$c' of type ${f.dataType.sql} " +
              "carries no NDV statistics (atomic types only)")
          f
        }
      require(targets.nonEmpty, s"ANALYZE $dir: no stat-eligible columns")
      val df = at.table
      val aggs = count(lit(1L)).as("__n") +: targets.flatMap { f =>
        val lenCol: Column = f.dataType match {
          case StringType => octet_length(col(f.name)).cast("long")
          case _ => lit(null).cast("long")
        }
        Seq(approx_count_distinct(col(f.name)).as(s"__ndv_${f.name}"),
          count(col(f.name)).as(s"__nn_${f.name}"),
          avg(lenCol).as(s"__al_${f.name}"),
          max(lenCol).as(s"__ml_${f.name}"))
      }
      // equi-height histograms (gated by Spark's own
      // spark.sql.statistics.histogram.enabled, like ANALYZE in the
      // session catalog): endpoints from one approximate-percentile
      // sweep, per-bin NDV from one ApproxCountDistinctForIntervals
      // sweep — two distributed passes total, driver holds only
      // numBins doubles per column. NDV alone prices every predicate
      // as uniform; the histogram is what lets CBO see that
      // `col = <rare value>` on a skewed column selects almost
      // nothing, which is routinely the difference between join
      // orders at 100 TB.
      val histEnabled = histogramsOverride.getOrElse(
        spark.sessionState.conf.histogramEnabled)
      val numBins = spark.sessionState.conf.histogramNumBins
      def histNumeric(f: StructField): Option[Column] = f.dataType match {
        // doubles are the histogram's own bin representation (Spark
        // stores HistogramBin bounds as doubles); dates count days,
        // timestamps micros — the same mapping FilterEstimation
        // replays on the predicate side
        case _: NumericType => Some(col(f.name).cast("double"))
        case DateType => Some(unix_date(col(f.name)).cast("double"))
        case TimestampType => Some(unix_micros(col(f.name)).cast("double"))
        case _ => None
      }
      val histTargets =
        if (!histEnabled || numBins < 2) Nil
        else targets.flatMap(f => histNumeric(f).map(f -> _))
      val pcts = (0 to numBins).map(_.toDouble / numBins).toArray
      val histAggs = histTargets.map { case (f, c) =>
        percentile_approx(c, lit(pcts),
          lit(spark.sessionState.conf.percentileAccuracy))
          .as(s"__hp_${f.name}")
      }
      // TYPED min/max for the CBO-comparable types (what Spark's own
      // ANALYZE stores): without them FilterEstimation's range check
      // treats every literal as out of range — a histogram alone
      // cannot price anything
      def mmEligible(f: StructField): Boolean = f.dataType match {
        case _: NumericType | DateType | TimestampType |
             TimestampNTZType | BooleanType => true
        case _ => false
      }
      val mmTargets = targets.filter(mmEligible)
      val mmAggs = mmTargets.flatMap(f =>
        Seq(min(col(f.name)).as(s"__tmn_${f.name}"),
          max(col(f.name)).as(s"__tmx_${f.name}")))
      val allAggs = aggs ++ mmAggs ++ histAggs
      val r = df.agg(allAggs.head, allAggs.tail: _*).head()
      val n = r.getLong(0)
      val mmBase = 1 + 4 * targets.size
      val mmExternal: Map[String, (String, String)] =
        mmTargets.zipWithIndex.flatMap { case (f, i) =>
          if (r.isNullAt(mmBase + 2 * i)) None
          else {
            def ext(j: Int): String =
              org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
                .toExternalString(
                  org.apache.spark.sql.catalyst.CatalystTypeConverters
                    .convertToCatalyst(r.get(j)),
                  f.name, f.dataType)
            Some(f.name -> (ext(mmBase + 2 * i), ext(mmBase + 2 * i + 1)))
          }
        }.toMap
      val histBase = mmBase + 2 * mmTargets.size
      val endpoints: Seq[Option[Array[Double]]] =
        histTargets.zipWithIndex.map { case (_, i) =>
          if (r.isNullAt(histBase + i)) None
          else Some(r.getSeq[Double](histBase + i).toArray)
            .filter(_.length == numBins + 1)
        }
      val histProps: Map[String, String] = {
        val live = histTargets.zip(endpoints).collect {
          case ((f, c), Some(eps)) => (f, c, eps)
        }
        if (live.isEmpty) Map.empty
        else {
          import org.apache.spark.sql.catalyst.expressions.aggregate
            .ApproxCountDistinctForIntervals
          import org.apache.spark.sql.catalyst.plans.logical
            .{Histogram, HistogramBin, HistogramSerializer}
          val ndvAggs: Seq[Column] = live.map { case (f, c, eps) =>
            org.apache.spark.sql.graft.GraftSparkBridge.column(
              new ApproxCountDistinctForIntervals(
                org.apache.spark.sql.graft.GraftSparkBridge.expression(c),
                org.apache.spark.sql.catalyst.expressions.Literal
                  .create(eps, ArrayType(DoubleType)), 0.05, 0, 0)
                .toAggregateExpression()).as(s"__hn_${f.name}")
          }
          val r2 = df.agg(ndvAggs.head, ndvAggs.tail: _*).head()
          live.zipWithIndex.flatMap { case ((f, _, eps), i) =>
            val ndvs = r2.getSeq[Long](i)
            val nonNull = 1 + 4 * targets.indexWhere(_.name == f.name) + 1
            val height = r.getLong(nonNull).toDouble / numBins
            if (ndvs.length != numBins) None
            else {
              val bins = Array.tabulate(numBins)(j =>
                HistogramBin(eps(j), eps(j + 1), ndvs(j)))
              Some(analyzeHistKey(physOf(f)) ->
                HistogramSerializer.serialize(Histogram(height, bins)))
            }
          }.toMap
        }
      }
      val colProps = targets.zipWithIndex.map { case (f, i) =>
        val base = 1 + 4 * i
        val ndv = r.getLong(base)
        val nulls = n - r.getLong(base + 1)
        val avgLen = if (r.isNullAt(base + 2)) ""
          else math.ceil(r.getDouble(base + 2)).toLong.toString
        val maxLen = if (r.isNullAt(base + 3)) ""
          else r.getLong(base + 3).toString
        val (mn, mx) = mmExternal.get(f.name)
          .map { case (a, b) => (enc(a), enc(b)) }.getOrElse(("", ""))
        analyzeColKey(physOf(f)) -> s"$ndv,$nulls,$avgLen,$maxLen,$mn,$mx"
      }.toMap
      // re-analyzed columns drop their stale histograms first: an old
      // histogram under fresh NDVs would mis-price worse than none
      val committed = commitOn(at, "analyze", at.meta.copy(props =
        (at.meta.props -- targets.map(f => analyzeHistKey(physOf(f)))) ++
          colProps ++ histProps + (AnalyzeRowsKey -> n.toString) +
          (AnalyzeAtKey -> at.v.toString)))
      AnalyzeResult(committed, n, targets.map(_.name))
    }

  /** Relative row-count drift past which ANALYZE-time histograms and
    * min/max are DROPPED instead of carried: a histogram describes a
    * distribution that no longer exists and cannot be rescaled (new
    * rows land in unknown bins), and pricing a skewed predicate off it
    * is the wrong-join-order failure histograms exist to prevent. Row
    * count and NDV/null counts scale instead (documented
    * approximation: proportional drift, clamped to the live count). */
  val StatsDriftBound = 0.5

  /** Exact LIVE row count of `version` from manifest metadata ALONE —
    * per-file commit-time row counts minus deletion-vector
    * cardinalities. None when any live file predates row-count
    * recording (the caller falls back to its frozen stats rather than
    * guessing). O(manifest): no data file is opened, no job runs —
    * cheap enough to consult on every statistics load. */
  def liveRowsExact(spark: SparkSession, dir: String,
      version: Int = -1): Option[Long] = {
    atOpt(spark, dir, version).flatMap(at => liveRowsOf(at.chain))
  }

  private def liveRowsOf(chain: Chain): Option[Long] = {
    var total = 0L
    chain.files.foreach { f =>
      chain.rowsOf(f) match {
        case Some(r) => total += r - chain.dv.get(f).map(_._2).getOrElse(0L)
        case None => return None
      }
    }
    Some(total)
  }

  /** Post-rewrite statistics refresh (opt-in via the
    * [[AnalyzeOnOptimizeKey]] table property): OPTIMIZE/compact just
    * rewrote the files, so re-running ANALYZE right then keeps the
    * CBO's rowCount/NDV/histograms exactly as fresh as the layout
    * instead of letting them drift until someone remembers.
    * Re-analyzes the SAME column set the stored stats cover (the
    * default eligible set when the property is on but the table was
    * never analyzed) and rebuilds histograms iff the prior stats had
    * them — the maintenance hook must not silently widen or narrow
    * what the operator chose at ANALYZE time. Returns the stats
    * commit's version (the rewrite already committed; an ANALYZE
    * failure surfaces rather than silently skipping). */
  private def maybeReanalyze(spark: SparkSession, dir: String,
      committed: Int): Int = {
    val at = resolveAt(spark, dir, committed)
    if (!at.meta.props.get(AnalyzeOnOptimizeKey)
        .exists(_.trim.equalsIgnoreCase("true"))) return committed
    reanalyzeAsBefore(at).version
  }

  /** Re-run ANALYZE with the SAME scope the stored stats cover: the
    * previously analyzed column set (the default eligible set when the
    * table was never analyzed) and histograms iff the prior pass had
    * them — maintenance must not silently widen or narrow what the
    * operator chose at ANALYZE time. */
  private def reanalyzeAsBefore(at: At): AnalyzeResult = {
    import at.{dir, spark}
    val props = at.meta.props
    val priorCols = at.schema.fields.toSeq
      .filter(f => props.contains(analyzeColKey(physOf(f)))).map(_.name)
    val hadHists = at.schema.fields.exists(f =>
      props.contains(analyzeHistKey(physOf(f))))
    analyzeColumns(spark, dir, priorCols,
      histogramsOverride = Some(hadHists ||
        spark.sessionState.conf.histogramEnabled))
  }

  /** Opt-in table property for [[maintain]]: `analyze.maxDriftPct=N`
    * re-ANALYZEs in the nightly maintenance pass once the live row
    * count has drifted more than N percent from the stored
    * statistics. Complements the per-load drift CORRECTION in
    * [[analyzedStats]] (rowCount/NDV self-correct continuously;
    * histograms past [[StatsDriftBound]] drop and only a real
    * re-ANALYZE brings them back). */
  val AnalyzeMaxDriftKey = "analyze.maxDriftPct"

  /** Re-ANALYZE only when the stored statistics drifted beyond
    * `maxDriftPct` percent of their recorded row count — the act half
    * of the staleness story (`CALL detail` reports the same drift).
    * None when the table has no stored stats, the live count is not
    * provable from manifests, or the drift is within threshold; the
    * DECISION is O(manifest), data is read only when the re-ANALYZE
    * actually runs. */
  def analyzeIfStale(spark: SparkSession, dir: String,
      maxDriftPct: Double): Option[AnalyzeResult] = {
    val at = atOpt(spark, dir, -1).getOrElse(return None)
    val analyzed = at.meta.props.get(AnalyzeRowsKey).map(_.toLong)
      .getOrElse(return None)
    val live = liveRowsOf(at.chain).getOrElse(return None)
    val driftPct =
      math.abs(live - analyzed) * 100.0 / math.max(1L, analyzed)
    if (driftPct <= maxDriftPct) None
    else Some(reanalyzeAsBefore(at))
  }

  /** The stored ANALYZE statistics of `version` (default: latest), if
    * any — row count plus per-column stats keyed by the version's
    * logical column names (translated from the stored physical keys,
    * so a post-ANALYZE rename still finds its stats). Consumed by the
    * catalog relation to feed the cost-based optimizer.
    *
    * STALENESS-AWARE: stats commit once and carry forward through
    * later DML, but the manifests know the exact live row count at
    * every version ([[liveRowsExact]]) — so when the table drifted
    * since `analyze.atVersion`, the returned rowCount is the LIVE
    * count (exact), NDV and null counts scale proportionally (clamped
    * to the live count — an approximation, but far closer than a
    * frozen count on a table that doubled), and past
    * [[StatsDriftBound]] the histograms and min/max drop entirely
    * (they describe a distribution that no longer exists). A manifest
    * that cannot prove its live count (pre-row-count files) keeps the
    * frozen stats — fail-safe, never worse than before. */
  def analyzedStats(spark: SparkSession, dir: String,
      version: Int = -1): Option[(Long, Map[String, ColumnAnalysis])] = {
    val at = atOpt(spark, dir, version).getOrElse(return None)
    import at.v
    val props = at.meta.props
    props.get(AnalyzeRowsKey).map { rc =>
      val schema = at.schema
      val cols = schema.fields.toSeq.flatMap { f =>
        props.get(analyzeColKey(physOf(f))).flatMap { s =>
          def build(ndv: String, nulls: String, al: String, ml: String,
              mn: Option[String], mx: Option[String]) = {
            val hist = props.get(analyzeHistKey(physOf(f))).flatMap(h =>
              try Some(org.apache.spark.sql.catalyst.plans.logical
                .HistogramSerializer.deserialize(h))
              catch { case NonFatal(_) => None })
            f.name -> ColumnAnalysis(ndv.toLong, nulls.toLong,
              if (al.isEmpty) None else Some(al.toLong),
              if (ml.isEmpty) None else Some(ml.toLong), hist,
              mn.filter(_.nonEmpty).map(dec), mx.filter(_.nonEmpty).map(dec))
          }
          s.split(",", -1) match {
            case Array(ndv, nulls, al, ml) => // pre-round-13 layout
              Some(build(ndv, nulls, al, ml, None, None))
            case Array(ndv, nulls, al, ml, mn, mx) =>
              Some(build(ndv, nulls, al, ml, Some(mn), Some(mx)))
            case _ => None
          }
        }
      }.toMap
      val analyzedRows = rc.toLong
      // drift correction: skip the (cheap) live-count pass entirely
      // when nothing committed since the ANALYZE — atVersion records
      // the version the pass READ, the stats landed at atVersion + 1
      val atTip = props.get(AnalyzeAtKey).map(_.toInt)
        .exists(a => a == v || a + 1 == v)
      val live = if (atTip) None else liveRowsOf(at.chain)
      live match {
        case None => (analyzedRows, cols)
        case Some(l) if l == analyzedRows => (analyzedRows, cols)
        case Some(l) =>
          val ratio = l.toDouble / math.max(1L, analyzedRows)
          val inBound = math.abs(ratio - 1.0) <= StatsDriftBound
          val drifted = cols.map { case (n, a) =>
            n -> a.copy(
              ndv = math.max(1L, math.min(l, math.round(a.ndv * ratio))),
              nulls = math.max(0L,
                math.min(l, math.round(a.nulls * ratio))),
              histogram = if (inBound) a.histogram else None,
              min = if (inBound) a.min else None,
              max = if (inBound) a.max else None)
          }
          (l, drifted)
      }
    }
  }

  /** Drop manifests older than the newest `keepVersions` and delete
    * data files no retained manifest references. This is the ONLY
    * operation that deletes data — until it runs, every version ever
    * committed is readable. A kept DELTA manifest resolves through its
    * base chain, so the chain's manifests (and their data files) are
    * retained too — vacuum may keep up to [[CheckpointInterval]] extra
    * versions so that every version it leaves listed stays fully
    * readable. REFUSES (unless `force`) when a drop would cross a
    * recorded streaming-consumer floor ([[recordConsumerFloor]]) —
    * the checkpointed stream would otherwise fail loudly at its next
    * restart. `clipToConsumers` WIDENS the keep set to respect the
    * floors instead (what [[maintain]] uses): the floors and the
    * drop set resolve under ONE version listing, so a commit racing
    * the vacuum cannot shift the newest-K window past a floor.
    * Returns (versions dropped, files deleted). */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int,
      force: Boolean = false,
      clipToConsumers: Boolean = false,
      dryRun: Boolean = false): (Int, Int) = {
    require(keepVersions >= 1, "must keep at least the current version")
    val (fs, root) = fsFor(spark, dir)
    val chains = new Chains(fs, root)
    val vs = versions(spark, dir)
    val floors =
      if (force) Nil else bindingFloors(spark, dir, vs)
    val keepEff =
      if (clipToConsumers && floors.nonEmpty)
        math.max(keepVersions, vs.count(_ >= floors.map(_.version).min))
      else keepVersions
    val (dropCand, keepTail) = vs.splitAt(math.max(0, vs.size - keepEff))
    if (dropCand.isEmpty) return (0, 0)
    // chain closure: every manifest a kept version resolves through
    val needed = scala.collection.mutable.Set[Int]()
    def close(v: Int): Unit = if (!needed.contains(v)) {
      needed += v
      chains(v).baseVersion.foreach(close)
    }
    keepTail.foreach(close)
    // TAGGED versions are pinned UNCONDITIONALLY (force included):
    // a tag exists precisely to make its snapshot survive retention —
    // the override is dropTag, a deliberate act on the named ref,
    // never a maintenance flag
    tags(spark, dir).map(_.version).filter(vs.contains)
      .foreach(close)
    val drop = dropCand.filterNot(needed.contains)
    if (drop.isEmpty) return (0, 0)
    if (!force) {
      // checked against the ACTUAL drop set (chain closure may retain
      // part of the candidate prefix); with clipToConsumers the keep
      // widening above makes this unreachable by construction
      val violated = floors.filter(f => drop.exists(_ >= f.version))
      if (violated.nonEmpty)
        throw new IllegalStateException(
          s"vacuum of $dir refused: it would drop versions that " +
            "live streaming consumers still replay from — " +
            violated.map(f => s"${f.id}@v${f.version}" +
              (if (f.note.nonEmpty) s" (${f.note})" else ""))
              .mkString("; ") +
            s" — let the streams advance, clear stale markers under " +
            s"$ConsumersDir/ (clearConsumerFloor), or pass force=true")
    }
    val keep = vs.filter(needed.contains)
    val live = keep.flatMap(chains(_).files).toSet
    val dead = drop.flatMap(chains(_).files).filterNot(live).distinct
    // ownership guard: absolute references written by shallowClone are
    // ANOTHER table's bytes — drop the manifest lines, never the files
    val deadOwned = dead.filter(ownedByRoot)
    // dry run: the full decision — floors checked, tags pinned, chain
    // closure resolved, dead set priced — with NOTHING deleted; what
    // the operator reads before pointing the real sweep at a 100 TB
    // table.
    if (dryRun) return (drop.size, deadOwned.size)
    // sidecars (bloom indexes, deletion vectors): one is dead exactly
    // when NO kept manifest line still references it — covers both a
    // dead file's sidecars and SUPERSEDED vectors of a live file whose
    // only referencing manifests are dropped
    val keptSidecars = keep
      .flatMap(kv => chains(kv).lines.flatMap(sidecarRefOf))
      .toSet
    val deadSidecars = drop
      .flatMap(dv => chains(dv).lines.flatMap(sidecarRefOf))
      .distinct.filterNot(keptSidecars)
    // COPY INTO ledger lines must outlive their manifests: roll the
    // dropped versions' #ingested lines into an _ingest/ sidecar
    // BEFORE anything is deleted (a crash after this point re-runs
    // into the same content-addressed marker — see syncIngestMarkers)
    syncIngestMarkers(chains, drop)
    // delete dead files FIRST, their manifests LAST: the dropped
    // manifests are the only map to the dead files, so a crash between
    // the two phases leaves a rerunnable state (the next vacuum re-lists
    // the same manifests and finishes) instead of unreachable orphans
    val deadManifests = drop.map(manifestPath(root, _))
    deadOwned.foreach(f => fs.delete(new HPath(root, f), false))
    deadSidecars.filter(ownedByRoot)
      .foreach(s => fs.delete(new HPath(root, s), false))
    deadManifests.foreach(m => fs.delete(m, false))
    (drop.size, deadOwned.size)
  }
}
