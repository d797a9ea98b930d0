package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.Stats
import graft.pipelines.{FundingStats, MainDag}

/** `dag_tick`: a closed loop, one caller running back-to-back
  * `MainDag.runTick` calls on one warehouse.
  *
  * The feed is fixture-shaped (`events`, `customer`, `supplier`). Each
  * tick the funding window advances one session: the feed holds the
  * last `window` sessions of 20 symbols, so all but one session are
  * re-delivered and a few re-delivered keys carry corrected values. The
  * upsert therefore sees the reference's overlap, and the rewritten
  * history grows by one session per tick. */
object DagTick extends Workload {
  val name = "dag_tick"
  val latencyKinds = Seq("tick")
  val commitKinds = Seq("tick")
  val reportNames = ("tick", "s", 1000.0, None)
  val opKinds = Set("tick")

  val Symbols = 20
  val SessionMs: Long = 8L * 3600 * 1000
  /** Session 0; later than the pipeline's 120-day cutoff (2024-01-16). */
  val BaseMs: Long = java.time.Instant.parse("2024-01-20T00:00:00Z").toEpochMilli
  val SetupReps = 3
  val CorrectionShare = 0.05

  /** window: sessions per feed; customers/suppliers: dimension feed rows. */
  final case class Size(window: Int, customers: Int, suppliers: Int)
  def size(tiny: Boolean): Size =
    if (tiny) Size(window = 30, customers = 40, suppliers = 10)
    else Size(window = 300, customers = 1500, suppliers = 100)

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Driver-side model of what the warehouse must hold. */
  final class Model(gen: Gen, sz: Size) {
    /** (symbol, session) -> value in cents (value = cents / 100). */
    val funding = mutable.HashMap.empty[(Int, Int), Int]
    /** (created_at micros, term) keys of the lending table. */
    val lending = mutable.HashSet.empty[(Long, Int)]
    var lastFeed: Seq[(Int, Int, Int, Long)] = Nil

    def userId(sym: Int, s: Int): Long = sym + Symbols * gen.int(50, 4, s, sym)

    /** The feed of tick `t`: (symbol, session, cents, user_id) for the
      * sessions [t, t + window); updates the model. Returns the number
      * of keys new to the warehouse. */
    def feed(t: Int): (Seq[(Int, Int, Int, Long)], Int) = {
      var fresh = 0
      val rows = for (s <- t until t + sz.window; sym <- 0 until Symbols) yield {
        val cents = funding.get((sym, s)) match {
          case None =>
            fresh += 1
            gen.int(4001, 1, s, sym) - 2000
          case Some(c) =>
            if (gen.unit(2, s, sym, t) < CorrectionShare)
              gen.int(4001, 3, s, sym, t) - 2000
            else c
        }
        funding((sym, s)) = cents
        (sym, s, cents, userId(sym, s))
      }
      // Lending: one key per term, stamped with the ceiling 5-minute
      // bucket of the term's newest observation.
      val before = lending.size
      rows.groupBy { case (_, _, _, u) => (u % 28 + 1).toInt }.foreach {
        case (term, rs) =>
          val maxMicros = rs.map(r => sessionMs(r._2) * 1000L).max
          val p = 300L * 1000000L
          lending += ((maxMicros - maxMicros % p + p, term))
      }
      lastFeed = rows
      (rows, fresh + lending.size - before)
    }
  }

  def sessionMs(s: Int): Long = BaseMs + s * SessionMs
  def symbol(sym: Int): String = s"SYM${sym}USDTM"

  private def writeEvents(spark: SparkSession, dir: String,
      rows: Seq[(Int, Int, Int, Long)]): Unit = {
    val data = rows.map { case (sym, s, cents, uid) =>
      Row(s.toLong * Symbols + sym, new Timestamp(sessionMs(s)), uid,
        "funding", cents / 100.0, "{}")
    }
    spark.createDataFrame(data.asJava, eventsSchema).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.invalidate(spark, dir, "events")
  }

  private def writeDims(spark: SparkSession, gen: Gen, dir: String,
      sz: Size): Unit = {
    import spark.implicits._
    (1 to sz.customers).map { k =>
      (k.toLong, f"Customer#$k%09d", gen.int(25, 10, k),
        (gen.int(1099999, 11, k) - 99999) / 100.0,
        Seq("BUILDING", "MACHINERY", "AUTOMOBILE")(gen.int(3, 12, k)))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    (1 to sz.suppliers).map { k =>
      (k.toLong, f"Supplier#$k%09d", gen.int(25, 13, k),
        (gen.int(1099999, 14, k) - 99999) / 100.0)
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/supplier.parquet")
  }

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    val sz = size(ctx.opts.tiny)
    val feedDir = new File(ctx.work, "feed").getPath
    writeDims(spark, ctx.gen, feedDir, sz)
    val expectFutures = (1 to sz.suppliers).count(_ % 5 != 0).toLong
    val expectSpot = (1 to sz.customers).count(_ % 2 == 0).toLong

    var model: Model = null
    var wh = ""
    var tick = 0

    /** One tick: feed (untimed), runTick (timed), per-tick check. */
    def doTick(setup: Boolean): Double = {
      val (rows, fresh) = model.feed(tick)
      writeEvents(spark, feedDir, rows)
      val (res, ms, rec) = ctx.runner(if (setup) "setup" else "tick") {
        MainDag.runTick(spark, feedDir, wh)
      }
      tick += 1
      rec.foreach(_.extra("new_rows") = fresh.toDouble)
      out.attempted += 1
      res match {
        case Left(e) => out.fail(s"tick $tick threw: $e")
        case Right(r) =>
          val want = MainDag.TickResult(expectFutures, expectSpot,
            model.lending.size.toLong, model.funding.size.toLong,
            Symbols.toLong)
          if (r != want) out.fail(s"tick $tick returned $r, expected $want")
          else if (!setup) out.samples += (("tick", ms, ctx.runner.lastId))
      }
      ms
    }

    (1 to SetupReps).foreach { rep =>
      if (wh.nonEmpty) Files2.deleteTree(new File(wh))
      wh = new File(ctx.work, s"warehouse_$rep").getPath
      model = new Model(ctx.gen, sz)
      tick = 0
      out.setupS += doTick(setup = true) / 1000.0
    }

    val deadline = ctx.deadlineAfter(Clock.nowMs)
    while (Clock.nowMs < deadline) doTick(setup = false)

    check(spark, wh, model, out)
    val input = model.funding.size + model.lending.size
    out.extra("disk_bytes_per_row") =
      (Files2.sizeOf(new File(wh)).toDouble / input, "B/row")
  }

  /** The final tables against the model: the funding history row for
    * row, and the stats table against a trailing-mean reference computed
    * on the driver from the last feed. */
  def check(spark: SparkSession, wh: String, model: Model,
      out: Outcome): Unit = {
    out.attempted += 1
    try {
      val funding = spark.read.parquet(s"$wh/kucoin_funding_rates")
        .select("symbol", "funding_time", "funding_rate").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime) -> r.getDouble(2))
        .toMap
      val wantFunding = model.funding.map { case ((sym, s), c) =>
        (symbol(sym), sessionMs(s)) -> (c / 100.0) / 10000.0
      }.toMap
      if (funding != wantFunding)
        out.fail(s"funding history differs: ${funding.size} rows vs " +
          s"${wantFunding.size} expected")
      val cols = Seq("dollar_volume_24h", "predicted_funding_rate",
        "funding_8h") ++ Stats.referenceHorizons.map(_.name)
      val got = spark.read.parquet(s"$wh/kucoin_funding_stats")
        .select("symbol", cols: _*).collect().map { r =>
          r.getString(0) -> cols.indices.map(i =>
            if (r.isNullAt(i + 1)) None else Some(r.getDouble(i + 1)))
        }.toMap
      val want = referenceStats(model.lastFeed)
      val bad = want.keySet.union(got.keySet).toSeq.sorted.filterNot { k =>
        (got.get(k), want.get(k)) match {
          case (Some(g), Some(w)) =>
            g.zip(w).forall { case (a, b) => Workload.closeOpt(a, b) }
          case _ => false
        }
      }
      if (bad.nonEmpty)
        out.fail(s"stats differ for ${bad.size} symbols, first ${bad.head}: " +
          s"got ${got.get(bad.head)}, expected ${want.get(bad.head)}")
    } catch { case e: Exception => out.fail(s"final check threw: $e") }
  }

  /** Trailing means of the reference on the feed rows: per symbol, the
    * newest value and the mean of the newest N values (null when fewer
    * than N), rescaled and annualized like the pipeline. */
  def referenceStats(feed: Seq[(Int, Int, Int, Long)]): Map[String, Seq[Option[Double]]] = {
    val f = FundingStats.AnnualFactor
    feed.groupBy(_._1).map { case (sym, rows) =>
      val desc = rows.sortBy(-_._2).map(r => BigDecimal(r._3, 2))
      val horizons = Stats.referenceHorizons.map { h =>
        if (desc.size >= h.sessions)
          Some(desc.take(h.sessions).sum.toDouble / h.sessions / 10000.0 * f)
        else None
      }
      symbol(sym) -> (Seq(Some((sym + 1) * 1000.0),
        Some((sym + 1) / 10000.0 * f),
        Some(desc.head.toDouble / 10000.0 * f)) ++ horizons)
    }
  }

  def layers(tr: Tracer, out: Outcome): Map[String, Double] = {
    val vs = tr.views(opKinds)
    val upsertRows = vs.flatMap(_.jobs).filter(_.module == "ops.Upsert")
      .map(_.recordsWritten).sum.toDouble
    val fresh = vs.map(_.op.extra.getOrElse("new_rows", 0.0)).sum
    Map("ops.Upsert.rows_rewritten_per_new_row" ->
      (if (fresh > 0) upsertRows / fresh else 0.0))
  }
}
