package graft.sql

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Exists, Expression, In, InSubquery, ListQuery, Literal, NamedExpression, Not, OuterReference, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan, Project => LProject}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.GraftSparkBridge

import graft.ops.Snapshots

/** Opaque expression holder for DML command fields. A command's
  * constructor Expressions join the plan's expression traversal, and
  * CheckAnalysis would reject what we legitimately carry there: a
  * predicate with subquery expressions (valid only under Filter in
  * Spark's placement rules — we evaluate them OURSELVES at run time)
  * and the merge-action expressions rerooted to `__t_`-prefixed
  * UnresolvedAttributes (resolved at run time against the
  * classification join). Not a TreeNode/Product-of-Expression, so the
  * analyzer and optimizer never look inside. */
private[sql] final class ShieldedExpr(val e: Expression)
    extends Serializable {
  override def toString: String = e.sql
}
private[sql] object ShieldedExpr {
  def apply(e: Expression): ShieldedExpr = new ShieldedExpr(e)
}

/** Shared translation helpers for the SQL DML commands. */
private[sql] object GraftDml {

  /** A resolved Catalyst predicate/value, re-rooted by NAME so it
    * resolves against the fresh frame the Snapshots API builds (the
    * command runs long after analysis; the original exprIds are
    * meaningless there). Subqueries are refused loudly — run
    * [[evaluateSubqueries]] first where a statement supports them. */
  def toColumn(e: Expression, what: String): Column = {
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      throw new UnsupportedOperationException(
        s"$what with a correlated or unsupported subquery shape is not " +
          "supported on graft tables — materialize the subquery into a " +
          "source table and MERGE")
    GraftSparkBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
  }

  /** The bound on driver-materialized subquery values: the same order
    * as merge's in-set footprint discipline — beyond it, the one
    * distributed shape (`DELETE/UPDATE ... WHERE k IN (subquery)`
    * alone, which [[runWhere]] applies as a key frame without ANY
    * driver materialization) or MERGE tombstones are the scale paths. */
  private val SubqueryValueLimit = 100000

  /** The verb of a statement's words (`DELETE`, `UPDATE SET` → `UPDATE`)
    * — what a refusal's remedy names. */
  private def verbOf(what: String): String = what.takeWhile(_ != ' ')

  private def refuseCorrelated(se: SubqueryExpression, what: String): Unit =
    if (se.getOuterAttrs.nonEmpty)
      throw new UnsupportedOperationException(
        s"$what with a CORRELATED subquery in this position is not " +
          s"supported on graft tables — ${verbOf(what)} supports a " +
          "standing-alone EXISTS/IN with equality correlation " +
          "(distributed); otherwise " +
          "rewrite as an uncorrelated IN (subquery), or materialize the " +
          "correlation as a source table and MERGE")

  /** Evaluate every UNCORRELATED subquery in `e` to a literal form —
    * what makes `DELETE/UPDATE ... WHERE k IN (SELECT ...)`,
    * `NOT IN`, `EXISTS`, and scalar-subquery comparisons runnable
    * over the self-contained Snapshots DML surface. Three-valued
    * logic is preserved exactly: `IN` rewrites to Catalyst's own
    * `In(expr, literals)` with NULL values KEPT (so `NOT IN` over a
    * null-bearing subquery correctly deletes nothing), a scalar
    * subquery over an empty result becomes a NULL literal, `EXISTS`
    * becomes a boolean literal. Values are driver-materialized and
    * capped at [[SubqueryValueLimit]] — the uncapped distributed
    * path is the pure IN-subquery shape of [[runWhere]]. */
  def evaluateSubqueries(spark: SparkSession, e: Expression,
      what: String): Expression = e.transformUp {
    case sq: ScalarSubquery =>
      refuseCorrelated(sq, what)
      val rows = GraftSparkBridge.ofRows(spark, sq.plan).limit(2).collect()
      if (rows.length > 1) throw new IllegalStateException(
        s"$what scalar subquery returned more than one row")
      Literal.create(rows.headOption.map(_.get(0)).orNull, sq.dataType)
    case ex: Exists =>
      refuseCorrelated(ex, what)
      Literal(GraftSparkBridge.ofRows(spark, ex.plan)
        .limit(1).collect().nonEmpty)
    case in @ InSubquery(vals, lq: ListQuery) =>
      refuseCorrelated(lq, what)
      if (vals.length != 1) throw new UnsupportedOperationException(
        s"$what supports single-column IN (subquery) only, got " +
          s"${vals.length} columns")
      val rows = GraftSparkBridge.ofRows(spark, lq.plan)
        .distinct().limit(SubqueryValueLimit + 1).collect()
      if (rows.length > SubqueryValueLimit)
        throw new UnsupportedOperationException(
          s"$what IN (subquery) materialized more than " +
            s"$SubqueryValueLimit distinct values — use the pure " +
            (if (verbOf(what) == "UPDATE")
              "'UPDATE t SET ... WHERE k IN (SELECT ...)' shape (a " +
                "distributed key-frame update) or MERGE ... WHEN " +
                "MATCHED THEN UPDATE"
            else
              "'DELETE FROM t WHERE k IN (SELECT ...)' shape (a " +
                "distributed tombstone delete) or MERGE ... WHEN " +
                "MATCHED THEN DELETE"))
      val dt = lq.plan.output.head.dataType
      In(vals.head, rows.toSeq.map(r => Literal.create(r.get(0), dt)))
  }

  /** The conjuncts of `e`, left to right. */
  def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case x => Seq(x)
  }

  /** Any correlation anywhere in `p` — a bare [[OuterReference]] or a
    * nested subquery that itself captures outer attributes. */
  private def hasOuter(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(_.exists {
      case _: OuterReference => true
      case s: SubqueryExpression => s.getOuterAttrs.nonEmpty
      case _ => false
    }))

  /** Decompose a CORRELATED subquery plan whose only correlation is a
    * conjunction of `inner-column = outer-column` equalities in its
    * top Filter (under the SELECT-list Project) into a DISTRIBUTED
    * key frame: the subquery's residual rows projected to the
    * SELECT-list values (aliased to `valNames` — the target columns an
    * enclosing IN compares them to; empty for EXISTS) plus the
    * correlated inner columns (aliased to the target columns they
    * equate to). `None` when the correlation doesn't fit that shape —
    * the caller keeps its loud refusal. The frame feeds
    * [[runWhere]]'s key-frame executor, which NULL-drops and dedups
    * keys itself, so EXISTS/IN null-and-multiplicity semantics are
    * preserved: a NULL never equals, duplicates never double-apply. */
  def equalityCorrelationFrame(spark: SparkSession, plan: LogicalPlan,
      valNames: Seq[String]): Option[(DataFrame, Seq[String])] = {
    val (projList, cond, child) = plan match {
      case LProject(pl, LFilter(c, ch)) => (pl, c, ch)
      case LFilter(c, ch) => (Nil, c, ch)
      case _ => return None
    }
    if (valNames.nonEmpty && projList.length != valNames.length)
      return None
    val (corr, residual) =
      splitConj(cond).partition(_.exists(_.isInstanceOf[OuterReference]))
    val pairs: Seq[Option[(Attribute, String)]] = corr.map {
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          a: AttributeReference, OuterReference(o)) => Some(a -> o.name)
      case org.apache.spark.sql.catalyst.expressions.EqualTo(
          OuterReference(o), a: AttributeReference) => Some(a -> o.name)
      case _ => None
    }
    if (pairs.isEmpty || pairs.exists(_.isEmpty)) return None
    // no correlation may survive outside the extracted equalities
    val residualPlan =
      residual.reduceOption(And).map(LFilter(_, child)).getOrElse(child)
    if (hasOuter(residualPlan) ||
        projList.exists(_.exists(_.isInstanceOf[OuterReference])))
      return None
    val keyCols: Seq[NamedExpression] =
      valNames.zip(projList).map { case (n, pe) =>
        Alias(pe match { case Alias(c, _) => c; case e => e }, n)()
      } ++ pairs.flatten.map { case (a, n) => Alias(a, n)() }
    val names = keyCols.map(_.name)
    if (names.distinct.length != names.length) return None
    Some((GraftSparkBridge.ofRows(spark,
      LProject(keyCols, residualPlan)), names))
  }

  /** Run one SQL DELETE or UPDATE: decompose its WHERE by shape and
    * apply the statement's verb through its two executors.
    * `matching(frame, names, expectedVersion)` applies the verb to the
    * target rows whose `names` tuple appears in `frame` (-1 leaves the
    * version unpinned); `where(pred)` applies it to the rows `pred`
    * holds for, and a missing WHERE is `where(lit(true))`. `stmt` is
    * the statement's leading words (`DELETE FROM` / `UPDATE`), which
    * messages and retry labels name; its first word is the verb a
    * remedy names.
    *
    * Each subquery shape below stands alone as the whole WHERE:
    *
    *   1. uncorrelated `k IN (SELECT ..)`, single or composite key
    *      `(a, b) IN (SELECT x, y ..)` — the subquery is a DISTRIBUTED
    *      key frame: no driver materialization, any cardinality,
    *      key-footprint file pruning;
    *   2. correlated `EXISTS` and 3. correlated `k IN`, whose
    *      correlation is a conjunction of `inner = outer` equalities —
    *      [[equalityCorrelationFrame]] turns the semi-join into the
    *      same key frame;
    *   4. correlated `NOT EXISTS` — the retention sweep: target keys
    *      anti-join that frame;
    *   5. correlated single-column `NOT IN` — per correlation-key
    *      tuple, NOT IN over that key's value set with exact
    *      three-valued semantics;
    *   6. uncorrelated single-column `NOT IN` — exact three-valued
    *      semantics at any cardinality: an empty subquery selects
    *      every row (NULL keys included), any NULL in the subquery
    *      selects none and commits nothing, a NULL target key is never
    *      selected (UNKNOWN);
    *   7. anything else — uncorrelated subqueries evaluate through
    *      [[evaluateSubqueries]]'s capped literal path.
    *
    * A correlated shape whose correlation is not pure equality refuses
    * loudly, as do target rows the semantics select but key-addressed
    * DML cannot express (a NULL correlation key). */
  def runWhere(spark: SparkSession, dir: String, tableName: String,
      stmt: String, cond: Option[Expression],
      matching: (DataFrame, Seq[String], Int) => Unit,
      where: Column => Unit): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val verb = verbOf(stmt)

    def refuseCorrelatedShape(what: String): Nothing =
      throw new UnsupportedOperationException(
        s"$stmt '$tableName' WHERE $what: only a standing-alone " +
          "subquery whose correlation is a conjunction of `inner = " +
          "outer` column equalities in its WHERE clause is supported " +
          s"(it runs as a distributed key-frame ${verb.toLowerCase} — " +
          "EXISTS/IN as the matching keys, NOT EXISTS as their anti " +
          "complement); otherwise materialize the correlation as a " +
          "source table and MERGE")

    // The target rows whose `names` tuple has NO match in `frame`: the
    // anti complement of the key-frame verb. `nullMatchless` (NOT
    // EXISTS) means the semantics DO select NULL-keyed target rows (a
    // NULL equality never matches), which key-addressed DML cannot
    // express, so it refuses; NOT IN passes false (a NULL key compares
    // UNKNOWN and is kept). The key set is computed against the pinned
    // version the commit CASes on; a lost race recomputes it.
    def anti(frame: DataFrame, names: Seq[String],
        nullMatchless: Boolean): Unit =
      Snapshots.retryPinned(spark, dir, s"$stmt '$tableName' (anti-join)") {
        base =>
          val tgt = Snapshots.read(spark, dir, base)
            .select(names.map(col): _*)
          if (nullMatchless && tgt.filter(names.map(col(_).isNull)
              .reduce(_ || _)).take(1).nonEmpty)
            throw new UnsupportedOperationException(
              s"$stmt '$tableName' WHERE NOT EXISTS selected a " +
                "target row with a NULL correlation-key value — " +
                s"key-addressed DML cannot express it; $verb those " +
                "rows with an IS NULL predicate first")
          matching(tgt.na.drop(names).distinct()
            .join(frame, names, "left_anti"), names, base)
      }

    // Correlated NOT IN: a target row's comparison set is the
    // subquery's `vName` values at the row's correlation-key tuple.
    // Empty set → selected; a NULL in the set → kept; NULL value with a
    // non-empty set → kept; else selected iff the (value, keys) tuple
    // has no pair match. Rows the semantics select but key-addressed
    // DML cannot express (NULL correlation key — its set is empty;
    // NULL value whose set is empty) refuse.
    def antiNotIn(pairs: DataFrame, names: Seq[String],
        vName: String): Unit = {
      val corr = names.filterNot(_ == vName)
      require(corr.nonEmpty, "correlated NOT IN lost its correlation")
      require(!names.exists(n => n == "__nin_cnt" || n == "__nin_hasnull"),
        "NOT IN decomposition reserves the __nin_ column prefix")
      val sAgg = pairs.groupBy(corr.map(col): _*)
        .agg(count(lit(1)).as("__nin_cnt"),
          max(col(vName).isNull.cast("int")).as("__nin_hasnull"))
      Snapshots.retryPinned(spark, dir, s"$stmt '$tableName' (NOT IN)") {
        base =>
          val tgt = Snapshots.read(spark, dir, base)
            .select(names.map(col): _*).distinct()
          if (tgt.filter(corr.map(col(_).isNull).reduce(_ || _))
              .take(1).nonEmpty)
            throw new UnsupportedOperationException(
              s"$stmt '$tableName' WHERE ... NOT IN (correlated " +
                "subquery) selected a target row with a NULL " +
                "correlation-key value (its comparison set is empty, " +
                "so NOT IN is TRUE) — key-addressed DML cannot express " +
                s"it; $verb those rows with an IS NULL predicate first")
          val j = tgt.join(sAgg, corr, "left")
          if (j.filter(col(vName).isNull && col("__nin_cnt").isNull)
              .take(1).nonEmpty)
            throw new UnsupportedOperationException(
              s"$stmt '$tableName' WHERE ... NOT IN (correlated " +
                "subquery) selected a target row with a NULL value and " +
                "an empty comparison set (NOT IN over the empty set is " +
                "TRUE) — key-addressed DML cannot express it; " +
                s"$verb those rows with an IS NULL predicate first")
          val emptySet = j.filter(col("__nin_cnt").isNull &&
            col(vName).isNotNull).select(names.map(col): _*)
          val noMatch = j.filter(col("__nin_cnt").isNotNull &&
              col("__nin_hasnull") === 0 && col(vName).isNotNull)
            .select(names.map(col): _*)
            .join(pairs, names, "left_anti")
          matching(emptySet.unionByName(noMatch), names, base)
      }
    }

    cond match {
      case Some(InSubquery(vals, lq: ListQuery))
          if lq.outerAttrs.isEmpty &&
            vals.forall(_.isInstanceOf[AttributeReference]) =>
        val names = vals.map(_.asInstanceOf[AttributeReference].name)
        val frame = GraftSparkBridge.ofRows(spark, lq.plan)
        require(frame.columns.length == names.length,
          s"IN (subquery) arity mismatch: ${names.length} key columns " +
            s"vs ${frame.columns.length} subquery columns")
        // positional rename: subquery output columns may carry
        // expression-derived names (dots included) col() would mangle
        matching(frame.toDF(names: _*), names, -1)
      case Some(ex: Exists) if ex.getOuterAttrs.nonEmpty =>
        equalityCorrelationFrame(spark, ex.plan, Nil) match {
          case Some((frame, names)) => matching(frame, names, -1)
          case None => refuseCorrelatedShape("EXISTS")
        }
      case Some(InSubquery(vals, lq: ListQuery))
          if lq.getOuterAttrs.nonEmpty &&
            vals.forall(_.isInstanceOf[AttributeReference]) =>
        equalityCorrelationFrame(spark, lq.plan,
          vals.map(_.asInstanceOf[AttributeReference].name)) match {
          case Some((frame, names)) => matching(frame, names, -1)
          case None => refuseCorrelatedShape("IN (subquery)")
        }
      case Some(Not(ex: Exists)) if ex.getOuterAttrs.nonEmpty =>
        equalityCorrelationFrame(spark, ex.plan, Nil) match {
          case Some((frame0, names)) =>
            // pinned: the anti-join (and a lost-CAS retry) must see the
            // SAME rows even if the plan is nondeterministic
            val frame = frame0.persist()
            try anti(frame, names, nullMatchless = true)
            finally frame.unpersist()
          case None => refuseCorrelatedShape("NOT EXISTS")
        }
      case Some(Not(InSubquery(Seq(v: AttributeReference), lq: ListQuery)))
          if lq.getOuterAttrs.nonEmpty =>
        equalityCorrelationFrame(spark, lq.plan, Seq(v.name)) match {
          case Some((pairs0, names)) =>
            // pinned: the per-key aggregate, the refusal probes and the
            // anti-join must all see the SAME subquery rows
            val pairs = pairs0.persist()
            try antiNotIn(pairs, names, v.name)
            finally pairs.unpersist()
          case None => refuseCorrelatedShape("NOT IN (subquery)")
        }
      case Some(Not(InSubquery(Seq(v: AttributeReference), lq: ListQuery)))
          if lq.getOuterAttrs.isEmpty =>
        val frame = GraftSparkBridge.ofRows(spark, lq.plan)
        require(frame.columns.length == 1,
          "NOT IN (subquery) arity mismatch: 1 key column vs " +
            s"${frame.columns.length} subquery columns")
        // pinned: the emptiness/NULL probe and the anti-join must see
        // the SAME rows (a nondeterministic subquery could otherwise
        // pass the NULL-free probe yet produce NULLs in the join), and
        // the probe is ONE aggregate pass, not three scans
        val keyed = frame.toDF(v.name).persist()
        try {
          val r = keyed.agg(count(lit(1)).as("__n"),
            count(col(v.name)).as("__nn")).head()
          val n = r.getLong(0)
          // NOT IN over an EMPTY set is TRUE for every row, NULL keys
          // included — a predicate statement, no keys involved
          if (n == 0) where(lit(true))
          else if (r.getLong(1) == n)
            anti(keyed.distinct(), Seq(v.name), nullMatchless = false)
          // else: a NULL in the subquery — no row's NOT IN is TRUE; the
          // statement is a no-op and commits nothing
        } finally keyed.unpersist()
      case other =>
        where(other.map(c => toColumn(evaluateSubqueries(spark, c, verb),
          verb)).getOrElse(lit(true)))
    }
  }
}

/** `DELETE FROM graft.db.t WHERE p` → [[GraftDml.runWhere]] with
  * [[Snapshots.deleteMatching]] as the key-frame executor and
  * [[Snapshots.deleteWhere]] as the predicate executor (copy-on-write,
  * or by deletion vector on a table whose [[Snapshots.DmlModeKey]] is
  * `merge-on-read`). Returns no rows, as Spark's DELETE does. */
final case class GraftDeleteCommand(dir: String, tableName: String,
    shieldedCond: ShieldedExpr) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftDml.runWhere(spark, dir, tableName, "DELETE FROM",
      Some(shieldedCond.e),
      Snapshots.deleteMatching(spark, dir, _, _, _),
      Snapshots.deleteWhere(spark, dir, _))
    Seq.empty
  }
}

/** `UPDATE graft.db.t SET c = e, ... WHERE p` → [[GraftDml.runWhere]]
  * with [[Snapshots.updateMatching]] as the key-frame executor and
  * [[Snapshots.updateWhere]] (file-level pruned; copy-on-write, or by
  * deletion vector on a `merge-on-read` table) as the predicate
  * executor. The SET values' own uncorrelated subqueries evaluate
  * first. */
final case class GraftUpdateCommand(dir: String, tableName: String,
    assignments: Seq[(String, ShieldedExpr)],
    cond: Option[ShieldedExpr]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val assigns = assignments.map { case (c, e) =>
      c -> GraftDml.toColumn(
        GraftDml.evaluateSubqueries(spark, e.e, "UPDATE SET"), "UPDATE")
    }
    GraftDml.runWhere(spark, dir, tableName, "UPDATE", cond.map(_.e),
      Snapshots.updateMatching(spark, dir, _, _, assigns, _),
      Snapshots.updateWhere(spark, dir, _, assigns))
    Seq.empty
  }
}

/** `MERGE INTO graft.db.t USING s ON t.k = s.k WHEN MATCHED THEN
  * DELETE` (alone) → [[Snapshots.deleteMatching]] — CDC tombstone
  * application, file-level pruned by the tombstones' key footprint. */
final case class GraftMergeDeleteCommand(dir: String, tableName: String,
    source: LogicalPlan, keys: Seq[(String, String)])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val src0 = GraftSparkBridge.ofRows(spark, source)
    val shaped = src0.select(keys.map { case (tCol, sCol) =>
      src0.col(sCol).as(tCol)
    }: _*)
    Snapshots.deleteMatching(spark, dir, shaped, keys.map(_._1))
    Seq.empty
  }
}

/** `ALTER TABLE graft.db.t ADD CONSTRAINT name CHECK (cond)` →
  * [[Snapshots.setConstraint]] — which validates every existing row
  * against the predicate before the metadata commit, the same
  * existing-rows proof Spark's native constraint flow performs. */
final case class GraftAddConstraintCommand(dir: String, tableName: String,
    name: String, conditionSql: String) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    Snapshots.setConstraint(spark, dir, name, conditionSql)
    Seq.empty
  }
}

/** One resolved-and-rerooted MERGE action: UPDATE (assignments as
  * target-col → expression over `__t_`-prefixed target columns and
  * bare source columns), DELETE, or INSERT (source-only expressions).
  * `cond` is the `WHEN ... AND cond` guard, rerooted the same way. */
private[sql] sealed trait GraftMergeAct
private[sql] final case class GraftMergeUpd(
  assigns: Seq[(String, ShieldedExpr)]) extends GraftMergeAct
private[sql] case object GraftMergeDel extends GraftMergeAct
private[sql] final case class GraftMergeIns(
  assigns: Seq[(String, ShieldedExpr)]) extends GraftMergeAct

/** The GENERAL MERGE shape — conditional and mixed WHEN MATCHED
  * actions, conditional INSERTs, NOT MATCHED BY SOURCE actions —
  * composed from the existing verbs:
  *
  *   1. ONE classification join: source ⋈ target on the ON keys
  *      (LEFT when every clause is source-driven, with the target
  *      pre-pruned by the source keys' in-set footprint when small —
  *      a point-merge never scans the table; FULL OUTER when a
  *      `WHEN NOT MATCHED BY SOURCE` clause is present, which by
  *      definition inspects EVERY target row, so pruning is
  *      disabled), target columns carried under `__t_` names so
  *      conditions and assignments may reference BOTH sides, and
  *      presence markers on each side so NULL join-key values never
  *      masquerade as the other classification;
  *   2. first-match-wins action index per row (SQL MERGE clause
  *      order, per classification list), building one target-shaped
  *      upsert frame (UPDATE rows keep unassigned columns at their
  *      target values; INSERT rows NULL-fill unassigned columns;
  *      NOT-MATCHED-BY-SOURCE UPDATE rows draw keys and unassigned
  *      columns from the TARGET side — the source side is absent)
  *      and one tombstone key frame (matched DELETEs keyed from the
  *      source side, BY SOURCE DELETEs from the target side);
  *   3. ONE atomic commit: [[Snapshots.mergeMixed]] applies the
  *      upsert frame AND the tombstone keys together (footprint over
  *      both key sets; `merge-mixed` in history); a merge with only
  *      one half takes the matching single verb.
  *
  * Source rows matching NO clause (and matched rows failing every
  * guard) are untouched, per SQL MERGE. Duplicate source keys fail
  * [[Snapshots.merge]]'s uniqueness check, as in every merge path.
  * The table's [[Snapshots.DmlModeKey]] reaches only the upsert-only
  * shape, through [[Snapshots.merge]]: a mixed or delete-only merge
  * always commits copy-on-write (a mixed mutation's rewrite-vs-vector
  * split would be per-file anyway, and atomicity comes first). */
final case class GraftMergeActionsCommand(dir: String, tableName: String,
    source: LogicalPlan, keys: Seq[(String, String)],
    matched: Seq[(Option[ShieldedExpr], GraftMergeAct)],
    notMatched: Seq[(Option[ShieldedExpr], GraftMergeIns)],
    notMatchedBySource: Seq[(Option[ShieldedExpr], GraftMergeAct)] = Nil)
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] =
    // Classification and commit must see the SAME snapshot: classify
    // against an explicitly pinned version and hand that version to
    // the commit verb as its OCC token. A commit landing in between
    // loses us the CAS — retryPinned then REDOES the classification
    // against the new current version (stale classifications must
    // never be merged over a racing writer's rows: WHEN MATCHED
    // UPDATE SET p = t.p + d would resurrect old_p, and BY SOURCE
    // clauses would misclassify concurrently inserted rows).
    Snapshots.retryPinned(spark, dir, s"MERGE INTO '$tableName'")(
      attemptOnce(spark, _))

  private def attemptOnce(spark: SparkSession, base: Int): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, lit, when}
    val src0 = GraftSparkBridge.ofRows(spark, source)
    require(!src0.columns.exists(c =>
        c.startsWith("__t_") || c == "__s_mark" || c == "__tgt_mark" ||
          c == "__action"),
      "MERGE source columns may not start with the reserved __t_ " +
        "prefix or be named __s_mark, __tgt_mark, or __action")
    val src = src0.withColumn("__s_mark", lit(true))
    val hasBySource = notMatchedBySource.nonEmpty
    val tgt0 = Snapshots.read(spark, dir, base)
    val tSchema = tgt0.schema
    // point-merge pruning: a small source key set filters the target
    // BEFORE the classification join (matched rows are the only target
    // rows the join can use — src LEFT JOIN tgt never needs the rest).
    // A NOT MATCHED BY SOURCE clause classifies every target row, so
    // it forfeits the pruning and pays the full-outer scan. The
    // literal cap follows merge's in-set footprint discipline (1024,
    // Snapshots.MergeInSetLimit): past it the filter degrades to the
    // keys' min/max range — still a parquet-pushable prune, without
    // embedding 10k literals that every derived plan's analysis would
    // re-walk (measured: a 5.7k-literal In put ~2.5 s of pure driver
    // planning on ONE warmed MERGE statement at sf0.1).
    val tgt =
      if (!hasBySource && keys.lengthCompare(1) == 0) {
        val vals = src.select(col(keys.head._2)).na.drop().distinct()
          .limit(1025).collect().map(_.get(0))
        if (vals.isEmpty) tgt0.limit(0)
        else if (vals.length <= 1024)
          tgt0.filter(col(keys.head._1).isin(vals.toIndexedSeq: _*))
        else {
          val r = src.agg(org.apache.spark.sql.functions.min(
              col(keys.head._2)), org.apache.spark.sql.functions.max(
              col(keys.head._2))).head()
          tgt0.filter(col(keys.head._1)
            .between(lit(r.get(0)), lit(r.get(1))))
        }
      } else tgt0
    // __tgt_mark cannot collide with a renamed target column: every
    // rename is "__t_" + name, whose fourth character is '_'
    val tRenamed = tgt.select(tSchema.fieldNames.toSeq.map(c =>
      col(c).as(s"__t_$c")): _*).withColumn("__tgt_mark", lit(true))
    val joinCond = keys.map { case (tc, sc) =>
      col(sc) === col(s"__t_$tc")
    }.reduce(_ && _)
    // NOTE: a LogicalRDD flat-plan barrier here (the dedupClusters
    // idiom) was tried and REVERTED: it does cut the re-analysis of
    // the join tree under every derived frame, but a LogicalRDD leaf
    // has no size statistics, so the commit verb's anti-join and
    // probe joins lose their broadcast decisions and fall back to
    // sort-merge (measured +2.6 s of job time on s41's
    // merge_conditional — more than the analysis saved). The literal
    // cap above keeps the tree cheap to re-walk instead.
    val joined = src.join(tRenamed, joinCond,
      if (hasBySource) "full_outer" else "left").persist()
    try {
      val srcPresent = col("__s_mark").isNotNull
      val tgtPresent = col("__tgt_mark").isNotNull
      val isMatched = srcPresent && tgtPresent
      val keyOf = keys.toMap // target col -> source col
      // GENERATED ALWAYS AS columns: an UPDATE action may not assign
      // one (it derives), and an UPDATE-action row may not carry the
      // target's STORED value forward — the assignments may change
      // the base columns the expression reads, so the slot goes out
      // NULL and the merge verb's materialization recomputes it
      // against the post-assignment row. INSERT actions keep explicit
      // values (the write-side equality enforcement validates them,
      // same as a plain INSERT).
      val genCols = tSchema.fields.iterator.filter(f =>
        GraftSparkBridge.generationExpression(f).nonEmpty)
        .map(_.name.toLowerCase).toSet
      val idCols = tSchema.fields.iterator.filter(f =>
        GraftSparkBridge.identityInfo(f).nonEmpty)
        .map(_.name.toLowerCase).toSet
      if (genCols.nonEmpty || idCols.nonEmpty)
        (matched ++ notMatchedBySource).foreach {
          case (_, GraftMergeUpd(assigns)) =>
            assigns.map(_._1).find(n => genCols.contains(n.toLowerCase))
              .foreach(n => throw new UnsupportedOperationException(
                s"MERGE INTO '$tableName': UPDATE SET targets '$n', a " +
                  "GENERATED ALWAYS AS column — it derives from its " +
                  "base columns; assign those instead"))
            assigns.map(_._1).find(n => idCols.contains(n.toLowerCase))
              .foreach(n => throw new UnsupportedOperationException(
                s"MERGE INTO '$tableName': UPDATE SET targets '$n', an " +
                  "IDENTITY column — its values are system-assigned " +
                  "and immutable"))
          case _ => ()
        }
      def exprCol(se: ShieldedExpr): Column = GraftSparkBridge.column(se.e)
      def actionIdx(conds: Seq[Option[ShieldedExpr]]): Column =
        conds.zipWithIndex.foldLeft(when(lit(false), -1)) {
          case (acc, (c, i)) =>
            acc.when(c.map(exprCol).getOrElse(lit(true)), i)
        }.otherwise(-1)
      // target-shaped projection for an UPDATE action: keys from the
      // source side of ON, assigned columns from their expressions,
      // everything else keeps the target's current value
      def updShape(assigns: Map[String, ShieldedExpr]): Seq[Column] =
        tSchema.fields.toSeq.map { f =>
          val c = keyOf.get(f.name).map(col)
            .orElse(assigns.get(f.name).map(exprCol))
            .getOrElse(
              if (genCols.contains(f.name.toLowerCase)) lit(null)
              else col(s"__t_${f.name}"))
          c.cast(f.dataType).as(f.name)
        }
      // INSERT: assigned columns only; the rest NULL (SQL semantics)
      def insShape(assigns: Map[String, ShieldedExpr]): Seq[Column] =
        tSchema.fields.toSeq.map { f =>
          assigns.collectFirst {
            case (n, e) if n.equalsIgnoreCase(f.name) => exprCol(e)
          }.getOrElse(lit(null)).cast(f.dataType).as(f.name)
        }
      // NOT MATCHED BY SOURCE UPDATE: the source side is absent — keys
      // and unassigned columns both come from the target's own values
      def updShapeBySource(assigns: Map[String, ShieldedExpr]): Seq[Column] =
        tSchema.fields.toSeq.map { f =>
          assigns.get(f.name).map(exprCol)
            .getOrElse(
              if (genCols.contains(f.name.toLowerCase)) lit(null)
              else col(s"__t_${f.name}"))
            .cast(f.dataType).as(f.name)
        }
      val m = joined.filter(isMatched)
        .withColumn("__action", actionIdx(matched.map(_._1)))
      val upserts = scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.DataFrame]()
      val tombstones = scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.DataFrame]()
      matched.zipWithIndex.foreach {
        case ((_, GraftMergeUpd(assigns)), i) =>
          upserts += m.filter(col("__action") === i)
            .select(updShape(assigns.toMap): _*)
        case ((_, GraftMergeDel), i) =>
          tombstones += m.filter(col("__action") === i)
            .select(keys.map { case (tc, sc) => col(sc).as(tc) }: _*)
        case ((_, ins: GraftMergeIns), _) =>
          throw new IllegalStateException(
            s"INSERT is not a WHEN MATCHED action: $ins")
      }
      val um = joined.filter(srcPresent && !tgtPresent)
        .withColumn("__action", actionIdx(notMatched.map(_._1)))
      notMatched.zipWithIndex.foreach {
        case ((_, GraftMergeIns(assigns)), i) =>
          upserts += um.filter(col("__action") === i)
            .select(insShape(assigns.toMap): _*)
      }
      if (hasBySource) {
        val tm = joined.filter(tgtPresent && !srcPresent)
          .withColumn("__action", actionIdx(notMatchedBySource.map(_._1)))
        // a NULL-keyed target row cannot round-trip through the
        // key-addressed upsert/tombstone verbs (a NULL key matches
        // nothing, so its rewrite would DUPLICATE the row) — refuse
        // rather than corrupt
        val nullKeyed = tm.filter(col("__action") >= 0 &&
          keys.map { case (tc, _) => col(s"__t_$tc").isNull }
            .reduce(_ || _))
        if (nullKeyed.take(1).nonEmpty)
          throw new UnsupportedOperationException(
            s"MERGE INTO '$tableName': a WHEN NOT MATCHED BY SOURCE " +
              "action selected a target row with a NULL ON-key value — "
              + "key-addressed DML cannot express it; DELETE/UPDATE " +
              "those rows with a predicate statement first")
        notMatchedBySource.zipWithIndex.foreach {
          case ((_, GraftMergeUpd(assigns)), i) =>
            upserts += tm.filter(col("__action") === i)
              .select(updShapeBySource(assigns.toMap): _*)
          case ((_, GraftMergeDel), i) =>
            tombstones += tm.filter(col("__action") === i)
              .select(keys.map { case (tc, _) =>
                col(s"__t_$tc").as(tc) }: _*)
          case ((_, ins: GraftMergeIns), _) =>
            throw new IllegalStateException(
              s"INSERT is not a NOT MATCHED BY SOURCE action: $ins")
        }
      }
      val del = tombstones.reduceOption(_.unionByName(_))
        .filter(_.take(1).nonEmpty)
      val ups = upserts.reduceOption(_.unionByName(_))
        .filter(_.take(1).nonEmpty)
      (ups, del) match {
        case (Some(u), Some(d)) =>
          // both halves → ONE atomic commit (merge-mixed); the pinned
          // `base` fails the CAS fast if anything committed since the
          // classification read — run() redoes the classification
          Snapshots.mergeMixed(spark, dir, u, keys.map(_._1), d,
            expectedVersion = base)
        case (Some(u), None) =>
          Snapshots.merge(spark, dir, u, keys.map(_._1),
            expectedVersion = base)
        case (None, Some(d)) =>
          Snapshots.deleteMatching(spark, dir, d, keys.map(_._1),
            expectedVersion = base)
        case (None, None) => // nothing matched any clause: no-op
      }
    } finally joined.unpersist()
    Seq.empty
  }
}

/** `MERGE INTO graft.db.t USING s ON t.k = s.k WHEN MATCHED THEN
  * UPDATE SET * WHEN NOT MATCHED THEN INSERT *` →
  * [[Snapshots.merge]] — the canonical upsert, which is exactly the
  * reference's ON CONFLICT DO UPDATE shape
  * (`scripts/funding_rates_etl.py:100-111`). The source plan is
  * carried analyzed and re-rooted as a DataFrame at run time; its
  * columns are aligned to target names via the ON equalities. On a
  * `merge-on-read` table ([[Snapshots.DmlModeKey]]) the matched rows
  * retire by deletion vector. */
final case class GraftMergeCommand(dir: String, tableName: String,
    source: LogicalPlan, colMap: Seq[(String, String)], keys: Seq[String])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val src0 = GraftSparkBridge.ofRows(spark, source)
    // project the source into the target's shape: one column per
    // target column, from the source column the merge actions named
    val shaped = src0.select(colMap.map { case (tCol, sCol) =>
      src0.col(sCol).as(tCol)
    }: _*)
    Snapshots.merge(spark, dir, shaped, keys)
    Seq.empty
  }
}
