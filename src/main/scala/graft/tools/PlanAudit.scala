package graft.tools

import org.apache.spark.sql.execution.SparkPlan

import graft.SparkEntry

/** Dev sweep: per-query physical-plan operator counts (Exchange /
  * SortMergeJoin / BroadcastHashJoin / Window) to spot accidental
  * shuffles — plus a CLASSIFIED BroadcastNestedLoop count, because a
  * BNL is not one signal: `crossJoin(broadcast(<one-row scalar |
  * bounded codebook>))` — the intended O(n·k) scalar-attach shape all
  * over the similarity/sampling queries — physically plans as
  * BroadcastNestedLoopJoin and is fine at any scale, while a BNL
  * whose build side is an unbounded relation is the classic
  * accidental O(n·m) scale-killer. `bnl_ok` counts the former (build
  * side contains a no-grouping aggregate or a bounded local
  * relation), `bnl_bad` the rest; the suite-wide invariant is
  * bnl_bad == 0. */
object PlanAudit {

  /** Every node of the executed plan, descending through the
    * adaptive wrapper, query stages and exchange reuse (the places
    * `collect` alone stops). */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  /** Is this BNL's broadcast side provably bounded? The documented
    * scalar-attach / codebook / query-vector patterns, each
    * recognizable from plan shape alone:
    *   - a no-grouping aggregate (one row by construction);
    *   - a small local relation (an inline codebook);
    *   - an explicit limit <= 4096 (a shortlist);
    *   - a point-selected scan — a Filter carrying at least one
    *     `attribute = literal` conjunct (the "query vector by id"
    *     lookup every similarity query broadcasts).
    * Anything else is a genuine unbounded nested loop and flags. */
  private def boundedBuild(side: SparkPlan): Boolean =
    allNodes(side).exists {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        h.groupingExpressions.isEmpty
      case o: org.apache.spark.sql.execution.aggregate
          .ObjectHashAggregateExec => o.groupingExpressions.isEmpty
      case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec =>
        s.groupingExpressions.isEmpty
      case l: org.apache.spark.sql.execution.LocalTableScanExec =>
        l.rows.lengthCompare(4096) <= 0
      case g: org.apache.spark.sql.execution.GlobalLimitExec =>
        g.limit <= 4096
      case c: org.apache.spark.sql.execution.CollectLimitExec =>
        c.limit <= 4096
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec =>
        t.limit <= 4096
      case r: org.apache.spark.sql.execution.RangeExec =>
        r.range.numElements <= 4096
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.exists {
          case org.apache.spark.sql.catalyst.expressions.EqualTo(
            _: org.apache.spark.sql.catalyst.expressions
              .AttributeReference,
            _: org.apache.spark.sql.catalyst.expressions.Literal) => true
          case org.apache.spark.sql.catalyst.expressions.EqualTo(
            _: org.apache.spark.sql.catalyst.expressions.Literal,
            _: org.apache.spark.sql.catalyst.expressions
              .AttributeReference) => true
          case _ => false
        }
      case _ => false
    }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.localSession(8)
    def count(hay: String, needle: String): Int =
      hay.sliding(needle.length).count(_ == needle)
    var badTotal = 0
    var gbadTotal = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        // executedPlan (not sparkPlan): EnsureRequirements has inserted
        // the Exchanges by then, so shuffle counts are real.
        val plan = fn(spark, dir).queryExecution.executedPlan
        val p = plan.toString
        val bnls = allNodes(plan).collect {
          case b: org.apache.spark.sql.execution.joins
              .BroadcastNestedLoopJoinExec => b
        }
        val (ok, bad) = bnls.partition { b =>
          val build = b.buildSide match {
            case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
            case org.apache.spark.sql.catalyst.optimizer.BuildRight =>
              b.right
          }
          boundedBuild(build)
        }
        badTotal += bad.size
        // unpartitioned (global) windows: single-partition sorts at
        // scale UNLESS the input is already cut to a bounded row count
        // by a limit below the window (v1's top-100 coverage rollup is
        // the intended shape). gwin_bad counts the unbounded ones; the
        // suite-wide invariant is gwin_bad == 0 (PlanSpec enforces it).
        val gwins = allNodes(plan).collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
        }
        val (gok, gbad) = gwins.partition(w => boundedBuild(w.child))
        gbadTotal += gbad.size
        println(f"$name%-28s ex=${count(p, "Exchange ")}%2d " +
          f"smj=${count(p, "SortMergeJoin")}%2d " +
          f"bhj=${count(p, "BroadcastHashJoin")}%2d " +
          f"bnl_ok=${ok.size}%2d bnl_bad=${bad.size}%2d " +
          f"win=${count(p, "Window [")}%2d " +
          f"gwin_ok=${gok.size}%2d gwin_bad=${gbad.size}%2d" +
          (if (bad.nonEmpty) "  <-- UNBOUNDED NESTED LOOP" else "") +
          (if (gbad.nonEmpty) "  <-- UNBOUNDED GLOBAL WINDOW" else ""))
      } catch { case e: Throwable =>
        println(s"$name FAILED: ${e.getMessage.take(80)}")
      }
    }
    println(s"TOTAL bnl_bad=$badTotal (invariant: 0), " +
      s"gwin_bad=$gbadTotal (invariant: 0)")
    spark.stop()
  }
}
