package graft.pipelines

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftSparkBridge

import graft.{Schemas, Tables}
import graft.ops.{Ddl, Sinks, Staged, Upsert}

/** The reference's main DAG (SURVEY.md §3.1 —
  * /root/reference/dags/kucoin_main_dag.py:59-64) as one composed batch
  * tick:
  *
  * {{{
  * create_tables
  *   → [ active_futures, active_spot_pairs, lending ]   (fan-out)
  *   → funding ingest (upsert)                          (fan-in)
  *   → funding stats rebuild (replace)
  * }}}
  *
  * Airflow passes state between tasks only through tables; here each
  * stage is a DataFrame write to the warehouse directory. Every stage
  * reads only the feed (`dir`) and its own table, none another stage's
  * output, and at a tick's size each stage is one or two small jobs
  * behind a fixed driver and commit cost. So the five stages are
  * STAGED concurrently, as Airflow's LocalExecutor runs the fan-out:
  * each writes its table's staging dir ([[Sinks.stageOverwrite]],
  * [[Upsert.stageUpsert]]) on its own thread of a per-tick pool, under
  * the caller's session and local properties (job group, scheduler
  * pool). Spark runs jobs submitted from separate threads at the same
  * time. The dependency edges are kept at PUBLISH time: once every stage
  * has finished, the staged tables are swapped in in DAG order —
  *
  *  - each fan-out table whose stage succeeded;
  *  - funding, only if all three fan-out tables landed;
  *  - stats, only if funding landed —
  *
  * and the first failure in DAG order is rethrown as it was thrown. As
  * with Airflow's sibling tasks, a failed fan-out stage does not stop
  * its siblings from landing; a table that does not land keeps its
  * previous files.
  *
  * One tick is idempotent end-to-end: DDL is create-if-not-exists,
  * dimension refreshes are atomic overwrites, funding ingest is a
  * newest-wins upsert, and the stats rebuild is a full replace — so a
  * retried tick (the reference's 5×-retry policy) converges to the same
  * state.
  *
  * A tick runs only the Spark jobs its tables need. The stage builders
  * return unordered frames (no sink keeps row order: the upsert's
  * `groupBy` re-shuffles and the overwrites are sets), so no range-sort
  * sampling job runs before a write; and [[TickResult]]'s counts come
  * from each staged table's parquet footers ([[Sinks.rowCount]], read in
  * its stage), not from re-reading each table.
  */
object MainDag {

  final case class TickResult(
      futures: Long, spotPairs: Long, lending: Long,
      fundingRows: Long, statsRows: Long)

  /** Run one 5-minute tick against fixture-derived feeds.
    *
    * @param warehouse output directory (the "Postgres" of the reference)
    * @param dir       fixture scale-factor directory (the "exchange API")
    */
  def runTick(spark: SparkSession, dir: String, warehouse: String): TickResult = {
    // 1. create_tables (kucoin_main_dag.py:30-32)
    Seq(
      "kucoin_lending_rates" -> Schemas.lendingRates,
      "kucoin_funding_rates" -> Schemas.fundingRates)
      .foreach { case (n, sch) => Ddl.ensureTable(spark, n, sch,
        Some(s"$warehouse/$n")) }
    // the feed resolves here, once, so no two stages race to run the
    // same schema job
    Tables.customer(spark, dir)
    Tables.supplier(spark, dir)
    Tables.eventsRawTs(spark, dir)

    def at(t: String): String = s"$warehouse/$t"
    val Seq(futures, spot, lending, funding, stats) = concurrently(spark, Seq(
      // 2. fan-out: dimension refreshes + lending append (:34-45)
      () => Sinks.stageOverwrite(DimensionRefresh.buildFutures(spark, dir),
        at("kucoin_active_futures")),
      () => Sinks.stageOverwrite(DimensionRefresh.buildSpot(spark, dir),
        at("kucoin_active_spot_pairs")),
      () => Upsert.stageUpsert(Lending.build(spark, dir),
        at("kucoin_lending_rates"),
        keys = Seq("created_at", "loan_duration_days"), version = "created_at"),
      // 3. fan-in: funding ingest, upsert on (symbol, funding_time) (:47-51)
      () => Upsert.stageUpsert(FundingStats.fundingRates(spark, dir)
          .select("symbol", "funding_period", "funding_time", "funding_rate"),
        at("kucoin_funding_rates"),
        keys = Seq("symbol", "funding_time"), version = "funding_time"),
      // 4. stats rebuild — replace sink (:53-57; funding_stats_etl.py:128)
      () => Sinks.stageOverwrite(FundingStats.build(spark, dir),
        at("kucoin_funding_stats"))
    ).map(stage => () => { val s = stage(); (s, Sinks.rowCount(spark, s.dir)) }))

    // publish in DAG order; the first failure in that order is thrown
    var failure: Option[Throwable] = None
    def land(staged: Either[Throwable, (Staged, Long)]): Boolean = {
      val landed = staged.flatMap { case (s, _) => Try(s.publish()).toEither }
      if (failure.isEmpty) failure = landed.left.toOption
      landed.isRight
    }
    val fanOut = Seq(futures, spot, lending).map(land)
    if (fanOut.forall(identity) && land(funding)) land(stats)
    failure.foreach(e => throw e)

    def rows(staged: Either[Throwable, (Staged, Long)]): Long =
      staged.toOption.get._2
    TickResult(rows(futures), rows(spot), rows(lending), rows(funding),
      rows(stats))
  }

  /** Runs every stage on its own daemon thread (`graft-tick-N`) of a
    * per-tick pool, each under the caller's session and a copy of its
    * local properties, and waits for all of them. A stage's exception
    * comes back as thrown, not wrapped. No pool thread outlives the
    * call. */
  private def concurrently[T](spark: SparkSession,
      stages: Seq[() => T]): Seq[Either[Throwable, T]] = {
    val threads = new ConcurrentLinkedQueue[Thread]
    val n = new AtomicInteger
    val factory: ThreadFactory = { r =>
      val t = new Thread(r, s"graft-tick-${n.incrementAndGet()}")
      t.setDaemon(true)
      threads.add(t)
      t
    }
    val pool = Executors.newFixedThreadPool(stages.size, factory)
    try
      stages
        .map(stage => GraftSparkBridge.withCallerContext(spark, pool)(stage()))
        .map { f =>
          try Right(f.get())
          catch { case e: ExecutionException => Left(e.getCause) }
        }
    finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
  }
}
